"""SparkSession factory with scale-oriented defaults.

Local mode is a stand-in for a multi-executor cluster: the configs below
(AQE, skew-join splitting, Arrow batching, shuffle-partition sizing) are
the ones that matter at 1000-executor / 100 TB scale; they are inert but
harmless on local[N].
"""

from __future__ import annotations

import functools
import hashlib
import os
import re
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# M7 / S6 — the reference registers EPSG:5514 (S-JTSK / Krovak East
# North) into PostGIS spatial_ref_sys when missing (vfrpg.py:99-118).
# This engine stores WGS84 lon/lat columns; the source SRS rides along
# as a constant for lineage/metadata, not as a runtime transform.
EPSG_SJTSK = 5514
EPSG_WGS84 = 4326

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def package_zip() -> str:
    """Zip gdal_vfr_spark for --py-files / addPyFile shipping (the
    north rule's deployment mode: `spark-submit --py-files`).

    One zip per checkout: the file name carries a hash of the package
    root, so sessions from two checkouts on one host never ship each
    other's engine. It is built at most once per process and root."""
    return _build_zip(_PKG_ROOT)


def root_tag(root: str = _PKG_ROOT) -> str:
    """A short hash of a checkout's root: files that checkouts on one
    host keep in the shared temp dir carry it in their names."""
    return hashlib.sha1(root.encode()).hexdigest()[:12]


@functools.cache
def _build_zip(root: str) -> str:
    """Write root's engine to a temp file and move it into place, so a
    reader never sees a half-written zip."""
    tag = root_tag(root)
    out = os.path.join(tempfile.gettempdir(), f"gdal_vfr_spark_pkg_{tag}.zip")
    src = os.path.join(root, "gdal_vfr_spark")
    fd, tmp = tempfile.mkstemp(prefix=f".gdal_vfr_spark_pkg_{tag}_", dir=os.path.dirname(out))
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(src):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, root))
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    return out


# applicationIds whose executors already have the engine zip
_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship the engine to the executor Python workers of `spark`'s
    application, once per application: a second addPyFile of the same
    zip is ignored by Spark yet appends it again to the driver's
    sys.path and the workers' include list."""
    path = package_zip()
    app = spark.sparkContext.applicationId
    if app not in _SHIPPED:
        spark.sparkContext.addPyFile(path)
        _SHIPPED.add(app)


def local_cores() -> int:
    """Cores for a local[N] master: SPARK_GRAFT_CPUS, else every core
    this process may run on. An override beyond the host raises
    instead of oversubscribing it."""
    host = len(os.sched_getaffinity(0))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", host))
    if not 0 < cores <= host:
        raise ValueError(f"SPARK_GRAFT_CPUS={cores} outside 1..{host} (cores of this host)")
    return cores


def driver_memory() -> str:
    """spark.driver.memory: SPARK_DRIVER_MEM, else half the physical
    RAM, which leaves the other half to the Python workers and the OS.
    An override that is not below physical RAM raises."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = os.environ.get("SPARK_DRIVER_MEM", f"{ram_mb // 2}m")
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if m is None:
        raise ValueError(f"SPARK_DRIVER_MEM={mem!r} is not a JVM memory size")
    mb = int(m[1]) * {"k": 2**-10, "": 1, "m": 1, "g": 2**10, "t": 2**20}[m[2]]
    if mb >= ram_mb:
        raise ValueError(f"SPARK_DRIVER_MEM={mem} is not below physical RAM ({ram_mb}m)")
    return mem


def get_spark(
    app_name: str = "gdal_vfr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on: runtime coalesce + skew-join splitting (megacity cells,
      SURVEY.md §4 item 2).
    - Arrow on: every pandas UDF crosses JVM<->Python in columnar
      batches, never per-row pickling.
    - shuffle.partitions sized to cores locally; on a real cluster this
      is ~2-3x total executor cores (set via spark-submit conf).
    - master and driver memory default from the host (local_cores,
      driver_memory); a `master` or `spark.driver.memory` the caller
      passes wins, and a second call only returns the live session.
    """
    extra_conf = extra_conf or {}
    master = master or os.environ.get("SPARK_MASTER") or f"local[{local_cores()}]"
    nshuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # filter-free MAX/MIN/COUNT (A5-style sequence resync) answered
        # from parquet footers instead of scanning row groups
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Input split size (round-6, guide §6): scale-dependent, so it
        # is an env knob. The LOCAL default (32m) splits the bench's
        # 100-200 MB fact files across several scan tasks instead of
        # 1-2; on a production cluster reading thousands of files, set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=512m-1g so large sequential
        # scans keep few, big map tasks (fewer shuffle blocks, §2.2).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"),
        )
        # Long-lived drivers (the bench suite, a multi-query pipeline
        # session) release shuffle files, broadcast and checkpoint
        # blocks only when the DRIVER JVM garbage-collects the owning
        # objects; the default periodic-GC interval (30min) lets that
        # state pile up across dozens of queries and inflate later
        # ones (guide §5). 2min bounds the accumulation window.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    if "spark.driver.memory" not in extra_conf:
        builder = builder.config("spark.driver.memory", driver_memory())
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the engine to executor Python workers. On a real cluster
    # spark-submit --py-files does this; addPyFile is the API-level
    # equivalent and also covers local mode when the driver's cwd is
    # not the repo root (worker processes don't inherit driver
    # sys.path mutations). An exception here is a real failure.
    ship_package(spark)
    return spark
