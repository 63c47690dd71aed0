"""What a ``get_spark`` session owns beyond its own process: Python
workers that import the engine from any working directory, and catalog
work directories that go away with the session. Each test runs a small
session in a subprocess whose working directory is a fresh temp dir, so
neither the repo root nor the test session's state can help."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from .conftest import REPO, SF_DIR

#: Small subprocess sessions: the test session's JVM is already running.
_PRELUDE = f"""
import json
import sys
sys.path.insert(0, {str(REPO)!r})
from reactive_data_pipeline_spark import get_spark
spark = get_spark("session-scope", master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.driver.memory": "1g"}})
spark.sparkContext.setLogLevel("ERROR")
"""


def _run(tmp_path, body: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _PRELUDE + textwrap.dedent(body)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """Workers fork from ``reactive_data_pipeline_spark.daemon`` with
    ``python -m`` in the JVM's working directory; outside the repo root
    every Python UDF failed with ModuleNotFoundError until local
    sessions put the package's parent on the workers' PYTHONPATH."""
    out = _run(
        tmp_path,
        """
        def same(batches):
            yield from batches

        n = spark.range(10).mapInPandas(same, "id long").count()
        spark.stop()
        print(json.dumps({"n": n}))
        """,
    )
    assert out == {"n": 10}


def test_streaming_query_work_dir_is_removed_with_the_session(tmp_path):
    """A streaming catalog query's source, sink and checkpoint directory
    lives under the session's driver temp directory: nothing new appears
    under the system temp dir, and the directory is gone once the
    session stops."""
    out = _run(
        tmp_path,
        f"""
        import glob, os, tempfile
        from pyspark import SparkFiles
        from reactive_data_pipeline_spark.queries import QUERIES

        prefix = "reactive_ticker_meta_"
        system = os.path.join(tempfile.gettempdir(), prefix + "*")
        before = len(glob.glob(system))
        QUERIES["reactive_ticker_meta_stream"].build(spark, {SF_DIR!r}).collect()
        owned = glob.glob(os.path.join(SparkFiles.getRootDirectory(), prefix + "*"))
        spark.stop()
        print(json.dumps({{
            "new_in_system_tmp": len(glob.glob(system)) - before,
            "owned": len(owned),
            "left_after_stop": sum(os.path.exists(p) for p in owned),
        }}))
        """,
    )
    assert out == {"new_in_system_tmp": 0, "owned": 1, "left_after_stop": 0}
