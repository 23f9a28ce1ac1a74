"""Session factory and entry-point contracts that only show outside the test
process."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

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


def test_check_gate_runs_from_any_cwd(tmp_path, sf_dir):
    """scripts/check_gate.py started outside the repo, with PYTHONPATH unset:
    the driver imports the package and the replay gate's Python workers find
    it too, so the gate runs and passes against its oracle."""
    if not os.path.isdir(sf_dir):
        pytest.skip(f"test data {sf_dir} absent")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_gate.py"),
         "--sf", sf_dir, "replay_limit_oracle"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout[-3000:], proc.stderr[-3000:])
    assert "1/1 passed" in proc.stdout


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimporter invalidates lazily")
def test_python_task_does_not_reread_zip_archives(spark):
    """A Python task of a build_session session calls
    importlib.invalidate_caches() (as pyspark does at every task start): no
    zipimporter re-reads its unchanged archive."""

    def probe(batches):  # nested: pickled by value, the worker cannot import tests/
        import importlib
        import sys
        import zipimport

        before = {
            k: v._files
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        }
        importlib.invalidate_caches()
        changed = sum(sys.path_importer_cache[k]._files is not f for k, f in before.items())
        for pdf in batches:
            yield pdf.assign(zips=len(before), changed=changed)

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInPandas(probe, "id long, zips long, changed long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r["zips"] > 0 for r in rows)  # workers do import through zips
    assert [r["changed"] for r in rows] == [0] * 4
