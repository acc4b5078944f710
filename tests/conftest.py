from __future__ import annotations

import json
from pathlib import Path

import duckdb
import pytest

from data_lake_project_spark.session import get_spark
from data_lake_project_spark.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


class _Durations:
    """Writes each test's setup + call + teardown seconds, slowest
    first, to ``.pytest_durations.json`` at the repository root when
    the session ends, so drift toward the suite timeout shows up in
    an artifact before it shows up as a truncated run."""

    def __init__(self, path: Path):
        self.path = path
        self.seconds: dict[str, float] = {}

    def pytest_runtest_logreport(self, report):
        self.seconds[report.nodeid] = (
            self.seconds.get(report.nodeid, 0.0) + report.duration
        )

    def pytest_sessionfinish(self):
        ranked = sorted(self.seconds.items(), key=lambda kv: -kv[1])
        self.path.write_text(
            json.dumps([{"test": t, "s": round(s, 3)} for t, s in ranked], indent=1)
            + "\n"
        )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: whole-surface sweeps (plan audit) — skip with -m 'not slow'",
    )
    config.pluginmanager.register(
        _Durations(Path(__file__).resolve().parent.parent / ".pytest_durations.json"),
        "durations-json",
    )
