"""The session's lineage-cut policy (``session.cut_lineage``): with a
checkpoint dir set, an iterative operator cuts its rounds with reliable
checkpoints written there."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

_RELIABLE_CC = """
import json, sys
from logstream_processing_service_spark.operators.dedup import connected_components
from logstream_processing_service_spark.session import get_spark

spark = get_spark(
    app_name="cut-lineage-reliable", master="local[2]", shuffle_partitions=2,
    extra_conf={"spark.checkpoint.dir": sys.argv[1]},
)
pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "d1 long, d2 long")
print(json.dumps({r["node"]: r["label"] for r in connected_components(pairs).collect()}))
spark.stop()
"""


def test_connected_components_cuts_reliably_when_a_checkpoint_dir_is_set(tmp_path):
    """A checkpoint dir cannot be unset on a running context, so the
    reliable path runs in a process of its own."""
    ckpt = tmp_path / "ckpt"
    env = {**os.environ, "PYTHONPATH": str(REPO), "SPARK_DRIVER_MEMORY": "1g"}
    run = subprocess.run(
        [sys.executable, "-c", _RELIABLE_CC, str(ckpt)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    labels = json.loads(run.stdout.strip().splitlines()[-1])
    assert {int(k): v for k, v in labels.items()} == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    assert any(p.is_file() for p in ckpt.rglob("*")), "no checkpoint files written"
