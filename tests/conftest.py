import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hudi_demo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (endurance, hypothesis "
        "property sweeps, codec stress) — the default run is the fast "
        "set, sized to finish inside the CI/driver verify window",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running endurance/property/stress test — excluded "
        "from the default run; enable with --runslow or "
        "SPARK_GRAFT_SLOW=1",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get(
        "SPARK_GRAFT_SLOW"
    ) == "1":
        return
    skip = pytest.mark.skip(
        reason="slow: run with --runslow or SPARK_GRAFT_SLOW=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hudi_demo_spark_tests", cpus=8)
    yield s


@pytest.fixture
def engine(spark, tmp_path):
    from hudi_demo_spark import Engine

    return Engine(spark, tmp_path / "lake")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def read_routes(monkeypatch):
    """`run(engine, fn)` -> (driver result, Spark result) of `fn()`: the
    first with `Engine._read_small` serving, the second with its cut at
    zero files, so every read falls back to the Spark plan. Asserts
    which route served each call."""
    import hudi_demo_spark.engine.engine as E

    def run(engine, fn):
        served = []
        orig = engine._read_small

        def spy(*a, **k):
            out = orig(*a, **k)
            served.append(out is not None)
            return out

        with monkeypatch.context() as m:
            m.setattr(engine, "_read_small", spy)
            driver = fn()
            assert served and all(served), "driver route did not serve"
            served.clear()
            m.setattr(E, "_SMALL_READ_CUT", (0, 0))
            spark_side = fn()
            assert served and not any(served), "served past the cut"
        return driver, spark_side

    return run
