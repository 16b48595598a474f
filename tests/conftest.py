import os
import sys
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from sketch_spark.session import get_spark

    s = get_spark("sketch_spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_dir(tmp_path_factory):
    """Small deterministic pages table written once per test session."""
    from sketch_spark.sources.pages import write_pages

    out = tmp_path_factory.mktemp("pages") / "pages_tbl"
    write_pages(str(out), n_rows=4000, seed=42, partitions_per_window=4)
    return str(out)


@pytest.fixture(scope="session")
def pages_pdf():
    from sketch_spark.sources.pages import generate_pages

    pages, sidecar = generate_pages(4000, seed=42)
    return pages, sidecar


def exact_token_counts(texts) -> pd.Series:
    toks = pd.Series(texts, dtype=object).str.split()
    return toks.explode().value_counts()


@pytest.fixture(scope="session")
def sf001():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01():
    return os.path.join(TESTDATA, "sf0.01")


@contextmanager
def native_disabled():
    """Run the block on the numpy/python fallbacks of ``core.native``,
    exactly as a process without a C compiler would."""
    from sketch_spark.core import native

    saved = native._lib, native._tried
    native._lib, native._tried = None, True
    try:
        yield
    finally:
        native._lib, native._tried = saved


def require_native():
    from sketch_spark.core import native

    if native._get() is None:
        pytest.skip("compiled kernels unavailable (no C compiler)")
