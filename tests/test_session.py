import os

import pytest

import __spark_entry__ as entry
from gdal_vfr_spark import session


def test_shipping_failure_raises(spark, monkeypatch):
    """A package zip that cannot be built must fail get_spark() and the
    driver-session shipping loudly, not leave workers without the
    engine. (Re-adding a good zip to a live session only logs a
    warning, so no benign case needs an exception swallowed.)"""

    def broken():
        raise OSError("cannot build the package zip")

    monkeypatch.setattr(session, "package_zip", broken)
    monkeypatch.setattr(entry, "package_zip", broken)
    # the conftest session's own settings, so the shared session is
    # left as it was
    with pytest.raises(OSError, match="package zip"):
        session.get_spark("gdal_vfr_spark_tests", master="local[4]", shuffle_partitions=8)
    with pytest.raises(OSError, match="package zip"):
        entry._ensure_shipped(spark)


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
