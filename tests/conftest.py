from __future__ import annotations

import sys
from pathlib import Path

import pytest
from hypothesis import settings

# fixed examples on every run: a failure reproduces, and the suite's
# runtime does not drift with the draw
settings.register_profile("repo", derandomize=True, deadline=None)
settings.load_profile("repo")

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from sagan_spark.session import build_spark

    s = build_spark(app="sagan_spark_tests", cores=4, driver_memory="4g")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_rules():
    from fixtures.vars import VARIABLES
    from sagan_spark.rules.parser import parse_rules

    text = (REPO / "fixtures" / "ruleset.rules").read_text()
    return parse_rules(text, VARIABLES)


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory):
    from sagan_spark.data.pages import write_pages

    path = tmp_path_factory.mktemp("pages") / "pages.parquet"
    write_pages(str(path), n_rows=2_000)
    return str(path)
