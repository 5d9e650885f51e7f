"""Executor-side package importability must not depend on launch cwd.

VERDICT r10 #6: package functions captured in Arrow-UDF closures are
pickled by reference, so executor Python workers must import
``mini_hive_server_spark`` themselves. Launched from the repo root this
silently worked (the local-mode worker inherits the JVM's cwd); launched
from ANY other directory, `graph_connected_components` and
`multimodal_phash_dedup` died with executor-side ModuleNotFoundError.
`session.ship_package_to_executors` zips the package once per
SparkContext and `addPyFile`s it; this test reproduces the original
failure shape — a vanilla session built in a subprocess whose cwd is a
temp dir — and pins that a Python-kernel query now executes.

The two Python data-source queries run first in that session. They read
no fixture, so they pass only if every registered query ships the
package (not just the fixture reader), and the streaming source passes
only if its classes are pickled by value (`sources/synth_sources.py`).
"""

from __future__ import annotations

import subprocess
import sys
import tempfile

REPO = "/root/repo"

# graph_connected_components was one of the two queries first observed
# failing from a foreign cwd: its union-find pre-pass
# ships package-level functions to Python workers. sf0.001 keeps the
# subprocess JVM under ~1 min.
_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import os
assert os.getcwd() != {REPO!r}, "test must run from a foreign cwd"
from mini_hive_server_spark import registry
qs = registry.queries()
# the Python data sources first: they read no fixture, so the package
# ships only through the registry wrapper, and the streaming source's
# planner worker sees no shipped zip at all
for name in ("source_python_datasource", "source_python_stream_datasource"):
    print(name, qs[name](spark, "/root/testdata/sf0.001").collect())
df = qs["graph_connected_components"](spark, "/root/testdata/sf0.001")
n = df.count()
print("FOREIGN_CWD_OK", n)
spark.stop()
"""


def test_python_kernel_query_runs_from_foreign_cwd():
    with tempfile.TemporaryDirectory() as td:
        proc = subprocess.run(
            [sys.executable, "-c", _SCRIPT],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=td,  # the failure precondition: NOT the repo root
        )
    assert proc.returncode == 0, (
        f"stdout={proc.stdout}\nstderr={proc.stderr[-4000:]}"
    )
    assert "FOREIGN_CWD_OK" in proc.stdout, proc.stdout
