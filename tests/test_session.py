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
