import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    root = tmp_path_factory.mktemp("spark")
    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.shuffle.partitions", "3")
         .config("spark.sql.warehouse.dir", str(root / "warehouse"))
         .getOrCreate())
    yield s
    s.stop()
