"""Session factory: shipping the package and setting its confs must fail loudly."""

from __future__ import annotations

import re
import tempfile
from types import SimpleNamespace

import pytest

from graph_spark import session


class _RefusingContext:
    def addPyFile(self, path):
        raise OSError("addPyFile refused")


class _StubSession:
    sparkContext = _RefusingContext()


def test_ship_package_failure_warns_with_zip_path(tmp_path, monkeypatch):
    """A session whose addPyFile raises gets a RuntimeWarning naming the
    zip and the error, and is not recorded as shipped (a later call
    retries)."""
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    stub = _StubSession()
    with pytest.warns(RuntimeWarning, match="addPyFile refused") as caught:
        session._ship_package(stub)
    msg = str(caught[0].message)
    assert str(tmp_path) in msg and f"_{id(stub)}.zip" in msg, msg
    assert id(stub) not in session._SHIPPED


class _RefusingConf:
    def __init__(self, refused):
        self.refused = refused
        self.values = {}

    def set(self, key, value):
        if key == self.refused:
            raise RuntimeError(f"{key} is fixed")
        self.values[key] = value


@pytest.mark.parametrize(
    "key", ["spark.sql.shuffle.partitions", "spark.sql.execution.arrow.pyspark.enabled"]
)
def test_configure_warns_when_a_conf_is_refused(tmp_path, monkeypatch, key):
    """configure() keeps going when the session refuses one of its two
    optional confs, but says so: a RuntimeWarning naming the conf, and
    every other conf is still set."""
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    stub = SimpleNamespace(
        sparkContext=SimpleNamespace(addPyFile=lambda path: None), conf=_RefusingConf(key)
    )
    with pytest.warns(RuntimeWarning, match=re.escape(key)):
        assert session.configure(stub) is stub
    assert key not in stub.conf.values
    assert stub.conf.values["spark.sql.session.timeZone"] == "UTC"
    assert len(stub.conf.values) == 6
    session._SHIPPED.discard(id(stub))
