"""Python-UDF closures must not require the package on worker import paths.

Regression guard for the cloudpickle by-reference trap: a mapInPandas /
applyInPandasWithState closure that references a module-level symbol is
pickled as `import package; ...` and dies on workers when the driver runs
from outside the repo (different cwd, cluster without the repo deployed).
This test runs the Python-UDF queries in a subprocess whose cwd is a temp
dir, with the repo reachable only via driver-side sys.path."""

from __future__ import annotations

import subprocess
import sys
import tempfile
from pathlib import Path

from conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]

SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from european_emissions_data_warehouse_spark.session import get_session
spark = get_session(master="local[2]", shuffle_partitions=2)
import __spark_entry__ as e
qs = e.queries()
sf = sys.argv[2]
for name in ("media_features", "embedding_stats", "weighted_avg_udaf",
             "sentence_udtf", "media_frames", "media_resize",
             "bucketed_join"):  # writes tables: must not need a writable cwd
    n = qs[name](spark, sf).count()
    assert n > 0, name
print("CWD_INDEPENDENT_OK")
"""


def test_python_udf_queries_run_from_foreign_cwd():
    with tempfile.TemporaryDirectory() as cwd:
        out = subprocess.run(
            [sys.executable, "-c", SCRIPT, str(REPO), SF_DIR],
            cwd=cwd,
            capture_output=True,
            text=True,
            timeout=300,
        )
    assert "CWD_INDEPENDENT_OK" in out.stdout, out.stderr[-2000:]
