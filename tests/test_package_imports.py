"""Every module of the package imports on its own, without a Spark session.

A module that still imports a deleted or renamed module fails here in
well under a second, instead of inside whichever long test reaches it.
"""

import importlib
import pkgutil

import pytest

import open_data_linter_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(
        open_data_linter_spark.__path__, "open_data_linter_spark."
    )
)


def test_walk_finds_the_engine():
    assert "open_data_linter_spark.plans.run" in MODULES
    assert "open_data_linter_spark.rules.audio_rules" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
