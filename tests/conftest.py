import shutil
import sys
from pathlib import Path

import pytest

# import the package from THIS checkout, whatever the working directory
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.session import get_spark

    s = get_spark(app_name="kg-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def catalog(tmp_path):
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    d = tmp_path / "catalog"
    yield ParquetCatalog(str(d))
    shutil.rmtree(d, ignore_errors=True)
