"""Python workers import the engine package whatever the driver's
working directory: a driver started outside the repository root (a
benchmark harness that changes directory before the session starts)
must still run the queries whose UDFs live in the package."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from .conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as entry
from datafoundation_multi_source_retail_data_integration_hub_spark.session import get_spark
from tests.oracle import compare

spark = get_spark(app_name="worker-path")
qs, osql = entry.queries(), entry.oracle_sql()
try:
    for name in ("doc_media_resized", "doc_av_meta"):
        compare(spark, {sf!r}, qs[name], osql[name], name)
        print("match", name)
finally:
    spark.stop()
"""


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=str(REPO), sf=SF_SMOKE)],
        cwd=tmp_path,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.split() == [
        "match", "doc_media_resized", "match", "doc_av_meta"
    ]
