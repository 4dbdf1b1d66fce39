"""Session factory behaviour that only shows in a fresh process."""

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_PROBE = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from pyspark.sql import functions as F
from pyproj_spark.functions.transform import transform_xy
from pyproj_spark.session import get_spark
spark = get_spark("cwd-probe", cores=1, shuffle_partitions=1)
df = spark.createDataFrame([(10.0, 50.0)], "lon double, lat double")
print(df.select(transform_xy("EPSG:4326", "EPSG:3857", F.col("lon"),
                             F.col("lat")).alias("p")).first()["p"]["x"])
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    # the driver's sys.path does not reach Python workers: get_spark
    # must ship the package location so a job runs from any cwd
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run([sys.executable, "-c", _PROBE], cwd=tmp_path,
                       env=env, capture_output=True, text=True,
                       timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert abs(float(r.stdout.split()[-1]) - 1113194.9079327357) < 1e-6
