"""The driver-contract queries that write to the temp dir (the snapshot
index of ``dedup_incremental``, the bucketed inverted lists of
``ivf_topk_indexed``, the package zip ``_ensure_pkg`` ships to Python
workers) leave nothing behind once their process exits. Their frames
read those paths lazily, so the removal has to wait for exit: the check
runs the queries in a child process with a private ``TMPDIR``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SF = REPO / "perfbench/data/sf0.001"

CHILD = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, sys.argv[1])
    import __spark_entry__ as E
    from sparktax.session import get_spark

    spark = get_spark(app="sparktax-tempfiles", cores=2, shuffle_partitions=4)
    qs = E.queries()
    qs["dedup_incremental"](spark, sys.argv[2])
    qs["ivf_topk_indexed"](spark, sys.argv[2])
    E._ensure_pkg(spark)
    # while the process lives, the paths are there for the lazy frames
    print("LIVE", len(os.listdir(os.environ["TMPDIR"])))
    spark.stop()
    """
)


def test_temp_paths_removed_at_exit(tmp_path):
    tmp = tmp_path / "tmp"
    cwd = tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp))
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(REPO), str(SF)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    live = [ln for ln in out.stdout.splitlines() if ln.startswith("LIVE ")]
    assert live and int(live[0].split()[1]) >= 3, out.stdout
    assert sorted(os.listdir(tmp)) == []
