import json
import os

import pytest

from jschon_spark.session import get_session

# skip reasons of every test that needs the reference checkout start
# with this, so the run summary can count them
REFERENCE_ABSENT = "reference checkout absent"


def reference_params(path: str, build, argcount: int = 1) -> list:
    """Parametrize values built from a JSON data file of the reference
    checkout: ``build(loaded_json)`` returns the ``pytest.param`` list.
    Without the file, one placeholder case is returned instead, skipped
    with a reason that names the missing path — the module still
    collects, and the summary shows what did not run."""
    if not os.path.exists(path):
        skip = pytest.mark.skip(reason=f"{REFERENCE_ABSENT}: {path} not found")
        return [pytest.param(*[None] * argcount, marks=skip, id="reference-absent")]
    with open(path) as f:
        return build(json.load(f))


def pytest_terminal_summary(terminalreporter):
    skipped = terminalreporter.stats.get("skipped", [])
    n = sum(1 for r in skipped if REFERENCE_ABSENT in str(r.longrepr))
    if n:
        terminalreporter.write_line(
            f"{n} reference-parity test(s) skipped: {REFERENCE_ABSENT}"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_session(cpus=4, app_name="jschon_spark_tests", shuffle_partitions=4)
    yield s
