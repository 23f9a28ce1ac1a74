"""Session factory contracts that only show outside the test process."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = f"""
import sys
sys.path.insert(0, {REPO!r})
from finiextestingide_spark.session import build_session

def probe(batches):
    import finiextestingide_spark  # resolved in the Python WORKER
    for pdf in batches:
        yield pdf.assign(pkg=finiextestingide_spark.__name__)

spark = build_session("cwd-probe", master="local[1]", shuffle_partitions=1,
                      extra_conf={{"spark.driver.memory": "1g"}})
rows = spark.range(5).mapInPandas(probe, "id long, pkg string").collect()
spark.stop()
print("ROWS", len(rows), rows[0]["pkg"])
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A Python-worker query from a session built outside the repo, with
    PYTHONPATH unset: the worker must still import the package (the
    session ships its location to the workers)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 5 finiextestingide_spark" in proc.stdout
