"""Package shipping in etl_master_spark.session, checked without a JVM."""

import tempfile
from pathlib import Path
from types import SimpleNamespace

from etl_master_spark import session


def test_each_session_ships_its_own_zip(monkeypatch):
    monkeypatch.setattr(session, "_SHIPPED_SESSIONS", set())
    added: list[str] = []

    def fake_spark():
        return SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=added.append))

    first, second = fake_spark(), fake_spark()
    session.ensure_package_shipped(first)
    session.ensure_package_shipped(second)
    session.ensure_package_shipped(first)  # same context: shipped once
    assert len(added) == 2 and added[0] != added[1]
    shared = Path(tempfile.gettempdir()) / "etl_master_spark_pyfiles.zip"
    assert all(Path(p) != shared and Path(p).is_file() for p in added)
