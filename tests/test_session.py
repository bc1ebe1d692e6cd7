"""Session builder: Python workers import pyveb_spark from any working
directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyveb_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(pyveb_spark.__file__)))


def test_arrow_udf_query_runs_outside_the_package_root(sf_dir, tmp_path):
    """q38 decodes payloads in a ``mapInPandas`` kernel that names
    pyveb_spark functions, so its Python workers must import the package.
    The driver finds it through ``sys.path`` and the workers, started in
    ``tmp_path`` without PYTHONPATH, only through the session conf."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyveb_spark.queries import QUERIES
        from pyveb_spark.session import get_spark

        spark = get_spark("cwd-check")
        q = QUERIES["q38_multimodal_decode"]
        print(len(q(spark, {sf_dir!r}).collect()))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert int(done.stdout.split()[-1]) > 0
