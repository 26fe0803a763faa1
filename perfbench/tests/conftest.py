import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from binlog_processer_spark.session import get_spark

    work = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    s = get_spark(
        "perfbench-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.local.dir": str(work),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s
    s.stop()
