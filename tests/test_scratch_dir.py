"""The session's on-disk state policy (``session.scratch_dir``): every
query that keeps txlog tables, registries, indexes or stream sources on
disk gets a new, empty dir under ``TMPDIR``, inside one root per process
that is removed when the process exits."""

from __future__ import annotations

import atexit
import glob
import os
import pathlib
import subprocess
import sys
import tempfile
import uuid

from .conftest import SF_DIR

REPO = pathlib.Path(__file__).resolve().parent.parent


def _env(tmp: pathlib.Path) -> dict[str, str]:
    return {
        **os.environ,
        "PYTHONPATH": str(REPO),
        "TMPDIR": str(tmp),
        "SPARK_DRIVER_MEMORY": "1g",
    }


def test_scratch_dirs_are_new_and_empty():
    """Two calls return distinct, empty dirs under ``TMPDIR``; a dir is
    never handed out twice, so no caller can clear another's state."""
    from logstream_processing_service_spark.session import scratch_dir

    d1, d2 = scratch_dir("bm25_inc"), scratch_dir("bm25_inc")
    assert d1 != d2
    for d in (d1, d2):
        assert os.path.isdir(d) and not os.listdir(d), d
        assert os.path.commonpath([d, tempfile.gettempdir()]) == tempfile.gettempdir()
        assert os.path.basename(d).startswith("bm25_inc_"), d


def test_one_exit_hook_per_process(monkeypatch, tmp_path):
    """However many dirs a process asks for, exactly one exit hook is
    registered, and it removes the root that holds them all."""
    from logstream_processing_service_spark import session

    hooks = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a, **kw: hooks.append(a))
    monkeypatch.setattr(session, "_scratch_root", None)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dirs = [session.scratch_dir(k) for k in ("bm25_inc", "lsh_inc", "cdc", "cdc")]
    assert len(hooks) == 1
    (root,) = hooks[0]
    assert all(os.path.dirname(d) == root for d in dirs)
    assert len(set(dirs)) == 4


_PRINT_DIR = """
from logstream_processing_service_spark.session import scratch_dir
print(scratch_dir("x"))
"""


def test_scratch_root_is_per_process_and_removed_at_exit(tmp_path):
    """Two processes get distinct roots (concurrent runs on the same
    ``sf_dir`` cannot race), and each root is gone once its process
    exits."""
    dirs = []
    for _ in range(2):
        run = subprocess.run(
            [sys.executable, "-c", _PRINT_DIR],
            cwd=REPO, env=_env(tmp_path), capture_output=True, text=True, timeout=120,
        )
        assert run.returncode == 0, run.stderr[-4000:]
        dirs.append(run.stdout.strip().splitlines()[-1])
    roots = [os.path.dirname(d) for d in dirs]
    assert roots[0] != roots[1]
    assert all(os.path.dirname(r) == str(tmp_path) for r in roots), roots
    assert not os.listdir(tmp_path)


_RUN_TWINS = """
import sys
from logstream_processing_service_spark import catalog
from logstream_processing_service_spark.session import get_spark

spark = get_spark(app_name="scratch-dir-twins", master="local[2]", shuffle_partitions=2)
qs = catalog.queries()
for name in sys.argv[2:]:
    qs[name](spark, sys.argv[1]).collect()
spark.stop()
"""


def test_twins_leave_no_state_behind(tmp_path):
    """Twins that keep a txlog table, an index, a registry and a stream's
    source and sink on disk run in one process and leave nothing after
    it exits: not in ``TMPDIR``, and not as a fixed ``/tmp`` path keyed
    by ``sf_dir``."""
    tag = f"scratchtest{uuid.uuid4().hex[:12]}"
    sf = tmp_path / tag
    sf.symlink_to(os.path.abspath(SF_DIR))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    names = [
        "snapshot_cdc_twin", "ann_ivfpq_index",
        "bm25_incremental_twin", "windowed_volume_stream_twin",
    ]
    run = subprocess.run(
        [sys.executable, "-c", _RUN_TWINS, str(sf), *names],
        cwd=REPO, env=_env(tmp), capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    assert not os.listdir(tmp), os.listdir(tmp)
    assert not glob.glob(f"/tmp/logstream_*{tag}*")
