"""The metadata core (``sources/meta.py``) stands alone: it imports and
runs a whole ref lifecycle in a process where ``pyspark`` cannot be
imported."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROGRAM = textwrap.dedent(
    """
    import os
    import sys

    sys.modules["pyspark"] = None  # any pyspark import now fails

    from cfe_39_spark.sources import fs
    from cfe_39_spark.sources.meta import PARENT_FILES, TableMeta

    t = TableMeta(os.path.join(sys.argv[1], "t"))
    fs.write_json_atomic(t._snap_path(1), {
        "snapshot_id": 1, "parent_id": None, "batch_id": "__create__",
        "committed_at": 0.0, "n_buckets": 4, "schema_version": 1,
        "schemas": {"1": '{"fields":[],"type":"struct"}'}, "manifests": [],
    })
    fs.write_atomic(os.path.join(t.meta_dir, "_LATEST"), "1")
    t._write_marker("__create__", 1)

    m0 = t.commit("m0", [], PARENT_FILES)
    assert t.tag("v0") == m0
    t.create_branch("a")
    c0 = t.branch("a").commit("c0", [], PARENT_FILES)
    assert t.latest_snapshot_id() == m0
    assert t.fast_forward("a") == c0 == t.latest_snapshot_id()
    m1 = t.commit("m1", [], PARENT_FILES)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert [s["snapshot_id"] for s in t.committed_chain()] == [m1]
    assert t.drop_branch("a") == c0
    assert t.find_batch("c0") == c0  # published: still suppressed
    assert t.commit("m1", [], PARENT_FILES) == m1  # replay: no-op
    assert "pyspark.sql" not in sys.modules
    print("ok")
    """
)


def test_meta_runs_without_pyspark(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _PROGRAM, str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
