import os
import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Spark reports a missing input as "[PATH_NOT_FOUND] Path does not exist: file:<path>."
_SPARK_MISSING = re.compile(r"Path does not exist: (?:file:)?(\S+?)\.? SQLSTATE")
_unavailable: list[tuple[str, str]] = []


def _missing_path(exc: BaseException) -> str | None:
    """The input file whose absence raised `exc`, if that is what raised it."""
    path = getattr(exc, "filename", None) if isinstance(exc, FileNotFoundError) else None
    if path is None:
        m = _SPARK_MISSING.search(str(exc))
        path = m.group(1) if m else None
    return path if path is not None and not os.path.exists(path) else None


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    """A golden-fixture test whose reference tree is absent fails with one
    named line instead of a stack trace. It is still a failure, never a skip."""
    try:
        return (yield)
    except Exception as exc:
        missing = _missing_path(exc) if item.get_closest_marker("reference_fixture") else None
        if missing is None:
            raise
    # outside the except block, so the report is this one line, unchained
    _unavailable.append((item.nodeid, missing))
    pytest.fail(f"reference fixture unavailable: {missing}", pytrace=False)


def pytest_terminal_summary(terminalreporter):
    if not _unavailable:
        return
    terminalreporter.section("reference fixture unavailable")
    for nodeid, missing in _unavailable:
        terminalreporter.write_line(f"{nodeid}: reference fixture unavailable: {missing}")
    terminalreporter.write_line(
        f"{len(_unavailable)} failed because the reference fixture tree is unavailable"
    )


@pytest.fixture(scope="session")
def spark():
    from prclz_spark.session import get_spark

    s = get_spark("local[8]", app="pytest", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
