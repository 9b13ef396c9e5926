"""qurio_spark/session.py: the engine runs from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from qurio_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2)
import __spark_entry__ as m
print("ROWS", len(m.queries()["chunk_corpus"](spark, {sf!r}).collect()))
spark.stop()
"""


def test_udf_query_runs_from_foreign_directory(sf_dir, tmp_path):
    """chunk_corpus runs a pandas UDF, so its Python workers import
    qurio_spark.  Started from a directory that does not hold the
    package, with no PYTHONPATH, the workers must still find it: the
    session puts the package's parent on the executors' PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO, sf=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, proc.stdout
