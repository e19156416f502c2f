"""One short workload run leaves the checkout as it found it, tracked and
ignored files alike, and leaves no process running; the benchmark without
the program exits non-zero and prints no result. Starts Spark (about a
minute):

    python3 -m pytest -p no:cacheprovider perfbench/test_hermetic.py
"""

import ctypes
import json
import os
import shutil
import subprocess
import sys

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
_PR_SET_CHILD_SUBREAPER = 36


def git_status() -> str:
    return subprocess.run(["git", "status", "--porcelain", "--ignored"], cwd=ROOT,
                          capture_output=True, text=True, check=True).stdout


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def test_run_is_hermetic():
    # orphaned grandchildren are re-parented to this process, so a
    # survivor of the run stays visible as our descendant
    libc = ctypes.CDLL(None, use_errno=True)
    assert libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    before = git_status()
    p = subprocess.run(
        [sys.executable, "-B", "perfbench/run.py", "--workload", "probe_batches",
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert git_status() == before
    reap()
    left = procs.tree()
    left.pop(os.getpid())
    assert not left, left


def test_without_program_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "-B", "perfbench/run.py", "--workload", "city_registry",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
