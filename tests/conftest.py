from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


def run_isolated(prog: str, tmp_path) -> dict:
    """Run ``prog`` in a fresh interpreter whose system temp dir, JVM temp
    dir and Spark local dirs all live under ``tmp_path/tmp``, with the empty
    ``tmp_path/cwd`` as its working directory. Returns the JSON of its last
    stdout line."""
    import json
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp, cwd = str(tmp_path / "tmp"), str(tmp_path / "cwd")
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.makedirs(cwd, exist_ok=True)
    env = dict(os.environ, PYTHONPATH=root, TMPDIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
               PYSPARK_SUBMIT_ARGS=f"--driver-java-options "
                                   f"-Djava.io.tmpdir={tmp} pyspark-shell")
    res = subprocess.run([sys.executable, "-c", prog], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=900)
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="session")
def spark():
    from xml_processor_spark.session import build_session

    s = build_session("pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def queries():
    from xml_processor_spark.registry import get_queries

    return get_queries()
