import importlib.util
import pathlib

import pytest


@pytest.fixture(scope="session")
def extract_digest():
    """scripts/extract_digest.py as a module."""
    path = pathlib.Path(__file__).parents[1] / "scripts" / "extract_digest.py"
    spec = importlib.util.spec_from_file_location("extract_digest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def spark():
    from rs_trafilatura_spark.session import get_spark

    s = get_spark(parallelism=8, driver_memory="8g")
    yield s
    s.stop()
