"""Session factory: shipping the package to executors must fail loudly."""

from __future__ import annotations

import tempfile

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
