"""The literal ship path: ``spark-submit --py-files <pkg.zip> jobs/match_job.py``.

The north rule names this exact deployment shape (reference deploys as a
single-process app, `/root/reference/main.py`; this engine ships as a
spark-submit job). These tests prove the artifact chain end-to-end:

* ``build_pyfiles_zip`` produces a zip importable as a python-path root;
* a DRIVER SCRIPT OUTSIDE THE REPO, with the repo stripped from
  ``PYTHONPATH``, resolves the package from the ``--py-files`` zip alone
  (driver side AND executors' python workers — the job runs Arrow
  kernels, so worker-side import is actually exercised);
* ``get_spark`` under spark-submit defers to the submit conf (master is
  NOT forced to local[*] — the bug this pins: a library builder that
  calls ``.master()`` unconditionally turns ``--master yarn`` into a
  silent local run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    import pyspark

    bundled = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.access(bundled, os.X_OK):
        return bundled
    return shutil.which("spark-submit")


def test_build_pyfiles_zip_layout(tmp_path):
    from registry_address_matcher_spark.session import build_pyfiles_zip

    zpath = build_pyfiles_zip(str(tmp_path))
    assert os.path.basename(zpath) == "registry_address_matcher_spark.zip"
    with zipfile.ZipFile(zpath) as zf:
        names = set(zf.namelist())
    # zip-root package layout: `sys.path.insert(0, zip)` must make
    # `import registry_address_matcher_spark` work
    for required in (
        "registry_address_matcher_spark/__init__.py",
        "registry_address_matcher_spark/session.py",
        "registry_address_matcher_spark/repos_pipeline.py",
        "registry_address_matcher_spark/operators/blocking.py",
    ):
        assert required in names, required
    assert not any(n.endswith(".pyc") for n in names)


def test_get_spark_leaves_no_package_zip_dir(tmp_path):
    """get_spark zips the package for executors once per live context: a
    second call on the same context ships nothing, a stopped-then-rebuilt
    session (new context) ships again. Each zip lives in a temp directory
    that must be gone once the process exits — one leaked directory per
    session otherwise piles up in TMPDIR."""
    script = (
        "import glob, os, tempfile\n"
        "from registry_address_matcher_spark.session import get_spark\n"
        "def n(): return len(glob.glob(os.path.join(tempfile.gettempdir(), 'ram_spark_*')))\n"
        "s = get_spark('zip-leak', master='local[1]')\n"
        "assert get_spark('zip-leak', master='local[1]') is s\n"
        "print('same', n())\n"
        "s.stop()\n"
        "s = get_spark('zip-leak', master='local[1]')\n"
        "print('rebuilt', n())\n"
        "s.stop()\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO}
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, check=True, timeout=300,
        capture_output=True, text=True,
    )
    counts = [ln for ln in proc.stdout.splitlines() if ln.startswith(("same", "rebuilt"))]
    assert counts == ["same 1", "rebuilt 2"], proc.stdout
    assert not list(tmp_path.glob("ram_spark_*"))


@pytest.mark.skipif(_spark_submit() is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    """Full repos job via spark-submit from OUTSIDE the repo, package
    resolved from the --py-files zip only."""
    from registry_address_matcher_spark.session import build_pyfiles_zip

    zpath = build_pyfiles_zip(str(tmp_path))
    job = str(tmp_path / "match_job.py")
    shutil.copyfile(os.path.join(REPO, "jobs", "match_job.py"), job)
    run_dir = str(tmp_path / "run")

    env = dict(os.environ)
    # the proof is import-through-the-zip: the repo must be reachable
    # neither via PYTHONPATH nor via cwd
    env.pop("PYTHONPATH", None)
    env.pop("SPARK_GRAFT_MASTER", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [
            _spark_submit(),
            "--master",
            "local[4]",
            "--py-files",
            zpath,
            job,
            "--synth",
            "40",
            "--run-dir",
            run_dir,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    manifest = json.load(open(os.path.join(run_dir, "run.json")))
    assert set(manifest["stages"]) >= {
        "normalize",
        "exact",
        "blocking",
        "scoring",
        "accepted",
        "clustering",
    }
    # the job prints one summary JSON line; get_spark deferred to the
    # submit conf, so the effective master is the submitted one
    summary = next(
        json.loads(ln)
        for ln in proc.stdout.splitlines()
        if ln.startswith("{") and '"run_dir"' in ln
    )
    assert summary["master"] == "local[4]", summary
    assert summary["sha_invariant_ok"] is True
    assert summary["counts"]["clusters"] > 0
