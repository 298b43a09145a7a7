"""Spec builders that write corpora take their directories from one
per-process parent, removed when the process exits (checked in a child
interpreter; no Spark session is started)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spec_scratch_dirs_share_one_parent_removed_at_exit(tmp_path):
    code = (
        "import os\n"
        "from bambooai_spark.suite import _scratch_dir\n"
        "a, b = _scratch_dir('bbai_a_'), _scratch_dir('bbai_b_')\n"
        "assert os.path.isdir(a) and os.path.isdir(b) and a != b\n"
        "print(a)\n"
        "print(b)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        capture_output=True, text=True, check=True,
    ).stdout.split()
    a, b = out[-2:]
    parent = os.path.dirname(a)
    assert os.path.dirname(b) == parent
    assert os.path.realpath(os.path.dirname(parent)) == os.path.realpath(tmp_path)
    assert not os.path.exists(parent)
    assert os.listdir(tmp_path) == []
