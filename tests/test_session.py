"""Session defaults: driver heap sizing and PySpark call-site capture."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from presto_ads_spark.session import DEFAULT_CONF, default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("total_kb, want", [
    (15_728_640, "3g"),    # 15 GiB host: a quarter, rounded down
    (2_097_152, "1g"),     # 2 GiB: floor of 1 GiB
    (1_048_576, "1g"),
    (268_435_456, "64g"),  # 256 GiB: a quarter
])
def test_default_driver_memory_is_a_quarter_of_host(tmp_path, total_kb, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == want


@pytest.mark.parametrize("content", [None, "", "garbage\n"])
def test_default_driver_memory_without_meminfo(tmp_path, content):
    meminfo = tmp_path / "meminfo"
    if content is not None:
        meminfo.write_text(content)
    assert default_driver_memory(str(meminfo)) == "1g"


def test_default_driver_memory_reads_this_host():
    assert default_driver_memory().endswith("g")
    assert int(default_driver_memory()[:-1]) >= 1


def test_column_calls_do_not_import_ipython():
    # PySpark's call-site capture imports IPython on the first Column call
    # of a process; the session defaults turn the capture off
    assert DEFAULT_CONF["spark.python.sql.dataFrameDebugging.enabled"] == "false"
    code = (
        "import sys\n"
        "from pyspark.sql import functions as F\n"
        "from presto_ads_spark.session import get_spark\n"
        "spark = get_spark('ipython-probe', master='local[1]')\n"
        "spark.range(3).select(F.col('id').alias('x').cast('string'),"
        " F.col('id').isNull()).collect()\n"
        "print('IPython' in sys.modules)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "False"
