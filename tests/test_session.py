import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from kafkadirect_spark.session import get_spark
from kafkadirect_spark.streaming.util import epoch_ms

def to_ms(it):
    for pdf in it:
        yield pd.DataFrame({{"ms": epoch_ms(pdf["ts"])}})

spark = get_spark("worker-import", cpus=1)
df = spark.sql("SELECT TIMESTAMP '1970-01-01 00:00:01.5' AS ts")
print("MS", df.mapInPandas(to_ms, "ms long").collect()[0].ms)
spark.stop()
"""


def test_get_spark_workers_import_package(tmp_path):
    """A session from ``get_spark`` ships the package to its Python
    workers: a ``mapInPandas`` that calls a package function runs from
    a directory outside the repo with a PYTHONPATH that lacks it."""
    env = dict(os.environ)
    path = [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.realpath(p) != os.path.realpath(REPO)]
    env["PYTHONPATH"] = os.pathsep.join(path)
    env.pop("SPARK_GRAFT_EVENT_LOG_DIR", None)
    out = subprocess.run([sys.executable, "-c", _SCRIPT], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert "MS 1500" in out.stdout, out.stderr[-3000:]
