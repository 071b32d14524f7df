"""get_spark's Python workers import the package from any working
directory."""

import os
import subprocess
import sys

import nlp_data_pipeline_spark

_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from nlp_data_pipeline_spark.session import get_spark


def version(batches):
    import nlp_data_pipeline_spark

    for pdf in batches:
        yield pdf.assign(v=nlp_data_pipeline_spark.__version__)


spark = get_spark("worker_import", shuffle_partitions=1)
print(spark.range(1).mapInPandas(version, "id long, v string").first().v)
"""


def test_workers_import_package_without_pythonpath(tmp_path):
    """A driver started elsewhere, with the package on its own sys.path
    only, still runs a kernel that imports the package on a worker."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=root)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == nlp_data_pipeline_spark.__version__
