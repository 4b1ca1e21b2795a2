"""Multi-process execution smoke (VERDICT r4 #3): the cluster-facing claims
(--py-files zip packaging, CSR cogroup supersteps with no shared block
storage, checkpoint/resume)
verified with executors in SEPARATE JVM processes via ``local-cluster[2,8,4096]``
— the cheapest honest test that the engine survives leaving one JVM.

Nightly-gated (``GOFFISH_NIGHTLY=1``): spawns a child python driving its own
local-cluster session (two concurrent SparkSessions in one process are
impossible — getOrCreate would return the existing local[4] test session).
"""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

CHILD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_local_cluster_child.py")


@pytest.mark.skipif(
    not os.environ.get("GOFFISH_NIGHTLY"),
    reason="multi-process local-cluster smoke; set GOFFISH_NIGHTLY=1",
)
def test_local_cluster_pyfiles_csr_resume(spark, tmp_path):
    from tools.package_pyfiles import build_zip

    zip_path = str(tmp_path / "goffish_v3_spark.zip")
    names = build_zip(zip_path)
    assert any(n.endswith("plans/csr.py") for n in names)

    out_path = str(tmp_path / "out.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable, CHILD, zip_path, str(tmp_path / "ckpt"), out_path,
        ],
        cwd=str(tmp_path),  # neutral cwd: repo NOT importable except via zip
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"child failed:\n{proc.stdout}\n{proc.stderr}"
    with open(out_path) as fh:
        got = json.load(fh)

    # executors genuinely out-of-process, on ≥2 workers
    assert got["driver_pid"] not in got["exec_pids"]
    assert len(got["exec_pids"]) >= 2

    # resume across executor-written checkpoints reproduced the full run
    assert got["resume_rows"] == 1200
    assert got["resumed_supersteps"] == 4  # 7 - 3: continued, not restarted
    assert got["resume_max_delta"] <= 1e-12

    # CSR ranks computed across executor processes match this (single-JVM)
    # session
    from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank

    edges = spark.range(6000).select(
        (F.col("id") % 1200).alias("src"),
        ((F.col("id") * 7 + 1) % 1200).alias("dst"),
        F.lit(1.0).alias("w"),
    )
    expected = {
        str(r.vid): r.rank
        for r in csr_pagerank(
            spark, edges, num_parts=8, fixed_iterations=6
        ).collect()
    }
    assert set(got["ranks"]) == set(expected)
    worst = max(abs(got["ranks"][k] - expected[k]) for k in expected)
    assert worst <= 1e-9, f"max |Δ| = {worst}"
