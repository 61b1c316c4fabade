from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from market_data_pipeline_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


def pytest_configure(config):
    # pyspark warns, then guesses, when a pandas function annotates only
    # some of its parameters; make that a failure so a partial hint
    # anywhere in the package fails the suite instead of a warnings line
    config.addinivalue_line(
        "filterwarnings",
        "error:Cannot infer the eval type from type hints:UserWarning",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


@pytest.fixture(scope="session")
def registry_sweep(spark, sf_dir) -> dict:
    """One pass over queries() at sf0.001, shared by the run check
    (test_entry_contract) and the plan audit (test_plan_shapes): each frame
    is built once, its executed plan kept, then run with limit(5).

    Streaming queries and the iterative kmeans fit execute on build, so
    their final plan shows nothing of the work; they are marked
    ``on_build`` and keep no plan, but still run. A failure in a query is
    kept in its record so the sweep goes on and each test reports it."""
    import __spark_entry__ as entrymod

    out = {}
    for name, fn in entrymod.queries().items():
        on_build = name.startswith("inv_st_") or name == "inv_v_kmeans_fit"
        rec = {"columns": None, "plan": None, "on_build": on_build, "error": None}
        try:
            df = fn(spark, sf_dir)
            rec["columns"] = df.columns
            if not on_build:
                rec["plan"] = df._jdf.queryExecution().executedPlan().toString()
            # cheap execution check (limit avoids full materialization cost
            # here; the full-result oracle comparison runs in
            # tools/verify_local.py)
            df.limit(5).collect()
        except Exception as e:  # reported per query by the tests
            rec["error"] = e
        out[name] = rec
    return out
