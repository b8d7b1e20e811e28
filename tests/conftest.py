import importlib.util
import pathlib

import pytest


def _script(name: str):
    """scripts/<name>.py as a module."""
    path = pathlib.Path(__file__).parents[1] / "scripts" / f"{name}.py"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def extract_digest():
    """scripts/extract_digest.py as a module."""
    return _script("extract_digest")


@pytest.fixture(scope="session")
def settable_values():
    """scripts/settable_values.py as a module."""
    return _script("settable_values")


@pytest.fixture(scope="session")
def spark():
    from rs_trafilatura_spark.session import get_spark

    s = get_spark(parallelism=8, driver_memory="8g")
    yield s
    s.stop()
