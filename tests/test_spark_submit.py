"""Real spark-submit deployment (north_rule: "run via spark-submit
--py-files"): launch scripts/run_crawl.py through the actual spark-submit
binary with the package zip on --py-files, in a fresh JVM/driver, and
check the crawl summary + exact resume."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from httpz_spark.session import package_zip

SPARK_SUBMIT = os.path.join(
    os.path.dirname(os.path.abspath(__import__("pyspark").__file__)),
    "bin", "spark-submit")
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available")


def _submit(seeds_file: str, state: str) -> dict:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", package_zip(),
        os.path.join(_REPO, "scripts", "run_crawl.py"),
        "--seeds", seeds_file, "--state", state,
        "--waves", "2", "--n-images", "16", "--n-hosts", "4",
        "--partitions", "4", "--budget", "50",
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420, env=env, cwd=_REPO)
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the summary is the last JSON object line on stdout
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no summary line in stdout: {proc.stdout[-500:]}")


def test_spark_submit_crawl_and_exact_resume():
    tmp = tempfile.mkdtemp(prefix="httpz_submit_")
    try:
        seeds_file = os.path.join(tmp, "seeds.txt")
        with open(seeds_file, "w") as f:
            f.write("h0.test\nh1.test\nh2.test\nh3.test\n")
        state = os.path.join(tmp, "state")

        s1 = _submit(seeds_file, state)
        assert s1["master"] == "local[4]"  # the launcher's, not local[*]
        assert s1["results"] > 0
        assert s1["results"] == s1["unique_urls"]
        assert len(s1["waves"]) >= 1 and s1["waves"][0]["fetched"] > 0

        # resume in a SECOND fresh driver JVM: committed waves are skipped,
        # the summary over the persisted state is identical
        s2 = _submit(seeds_file, state)
        assert s2["results"] == s1["results"]
        assert s2["unique_urls"] == s1["unique_urls"]
        assert s2["waves"] == s1["waves"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
