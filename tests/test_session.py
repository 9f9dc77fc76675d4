import os
import sys

import pytest

import __spark_entry__ as entry
from gdal_vfr_spark import session

SF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "testdata",
    "sf0.001",
)


def test_shipping_failure_raises(spark, monkeypatch):
    """A package zip that cannot be built must fail get_spark() and the
    driver-session shipping loudly, not leave workers without the
    engine."""

    def broken():
        raise OSError("cannot build the package zip")

    monkeypatch.setattr(session, "package_zip", broken)
    # the conftest session's own settings, so the shared session is
    # left as it was
    with pytest.raises(OSError, match="package zip"):
        session.get_spark("gdal_vfr_spark_tests", master="local[4]", shuffle_partitions=8)
    with pytest.raises(OSError, match="package zip"):
        entry._read(spark, SF, "events")


def test_engine_shipped_once_per_application(spark, monkeypatch):
    """A reused get_spark() session and two geo queries build the
    engine zip at most once and add it at most once: Spark ignores a
    re-add, yet each one rewrote the zip and appended it again to the
    driver's sys.path and the workers' include list."""
    import tempfile

    from pyspark import SparkFiles

    builds, adds = [], []
    mkstemp = tempfile.mkstemp

    def counting_mkstemp(*args, **kwargs):
        if kwargs.get("prefix", "").startswith(".gdal_vfr_spark_pkg_"):
            builds.append(kwargs["prefix"])
        return mkstemp(*args, **kwargs)

    sc = spark.sparkContext
    add = sc.addPyFile

    def counting_add(path):
        adds.append(path)
        add(path)

    monkeypatch.setattr(tempfile, "mkstemp", counting_mkstemp)
    monkeypatch.setattr(sc, "addPyFile", counting_add)
    assert session.get_spark("gdal_vfr_spark_tests", master="local[4]", shuffle_partitions=8) is spark
    entry.q_geo_pip_counts(spark, SF)
    entry.q_geo_knn(spark, SF)
    assert len(builds) <= 1 and len(adds) <= 1, (builds, adds)
    name = os.path.basename(session.package_zip())
    assert sc._python_includes.count(name) == 1
    assert sys.path.count(os.path.join(SparkFiles.getRootDirectory(), name)) == 1


def test_host_derived_defaults(monkeypatch):
    """local[N] and driver memory come from the host; an override that
    exceeds the host raises. (The helpers are tested directly: a second
    get_spark() would only return the live session.)"""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert session.local_cores() == cores
    assert session.driver_memory() == f"{ram_mb // 2}m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    assert session.local_cores() == 1
    for bad in (str(cores + 1), "0"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            session.local_cores()

    monkeypatch.setenv("SPARK_DRIVER_MEM", "512m")
    assert session.driver_memory() == "512m"
    for bad in (f"{ram_mb}m", f"{ram_mb // 1024 + 1}g", "1t", "lots"):
        monkeypatch.setenv("SPARK_DRIVER_MEM", bad)
        with pytest.raises(ValueError, match="SPARK_DRIVER_MEM"):
            session.driver_memory()


def test_package_zip_per_checkout(tmp_path, monkeypatch):
    """Two checkouts on one host get two zips, each holding its own
    root's engine files, so their sessions never ship each other's."""
    import zipfile

    zips = []
    for name in ("a", "b"):
        pkg = tmp_path / name / "gdal_vfr_spark"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text(f"CHECKOUT = {name!r}\n")
        (pkg / f"only_{name}.py").write_text("")
        monkeypatch.setattr(session, "_PKG_ROOT", str(tmp_path / name))
        zips.append(session.package_zip())
    assert zips[0] != zips[1]
    for name, path in zip(("a", "b"), zips):
        with zipfile.ZipFile(path) as zf:
            assert sorted(zf.namelist()) == [
                "gdal_vfr_spark/__init__.py",
                f"gdal_vfr_spark/only_{name}.py",
            ]
            assert zf.read("gdal_vfr_spark/__init__.py").decode() == f"CHECKOUT = {name!r}\n"
        os.unlink(path)
