import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "reference_fixtures: the test's inputs and expected "
        "values exist only under pages.FIXTURE_DIR; skipped without it")


def pytest_runtest_setup(item):
    if item.get_closest_marker("reference_fixtures") is None:
        return
    from nreadability_spark.spark.pages import FIXTURE_DIR
    if not os.path.isdir(FIXTURE_DIR):
        pytest.skip(f"reference fixture directory {FIXTURE_DIR} is absent")
