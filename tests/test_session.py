"""Session factory: what a session leaves behind once its process ends."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import glob, sys, tempfile
sys.path.insert(0, {repo!r})
from swiftlake_spark.config import EngineConfig
from swiftlake_spark.session import build_session
before = set(glob.glob(tempfile.gettempdir() + "/swl_pkg_*"))
build_session(EngineConfig(app_name="session-exit", cpus=1))
print(sorted(set(glob.glob(tempfile.gettempdir() + "/swl_pkg_*")) - before))
"""


def test_worker_zip_directory_is_removed_at_exit(tmp_path):
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO)],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    made = ast.literal_eval(out.strip().splitlines()[-1])
    assert len(made) == 1
    assert not os.path.exists(made[0])
