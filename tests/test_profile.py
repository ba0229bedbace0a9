"""Smoke test of tools/profile_keys.py, run as a subprocess because its tracer
wraps the py4j gateway client of the session it starts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_writes_one_layered_record_per_key(tmp_path):
    out = tmp_path / "profile.json"
    # A private temp dir (Python, JVM and Spark local dirs), so the
    # leftover report sees only this run's files.
    tmp = tmp_path / "tmp"
    (tmp / "local").mkdir(parents=True)
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(tmp / "local"),
               PYSPARK_SUBMIT_ARGS=f"--driver-java-options "
                                   f"-Djava.io.tmpdir={tmp} pyspark-shell")
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile_keys.py"),
         "--sf", SF_SMALL, "--out", str(out), "q_agg_group", "q_udf_pandas"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    prof = json.loads(out.read_text())
    assert prof["failed"] == [] and prof["sf"] == os.path.basename(SF_SMALL)
    assert prof["leftovers"] == {}
    recs = {r["key"]: r for r in prof["records"]}
    assert list(recs) == ["q_agg_group", "q_udf_pandas"]
    for r in recs.values():
        layers = r["construct_s"] + r["plan_s"] + r["fetch_s"]
        assert abs(layers - r["wall_s"]) <= 1e-3, r
        assert r["construct_py4j"] > 0 and r["jobs"] >= 1, r
    assert recs["q_udf_pandas"]["python_nodes"] == 1
