"""The north-rule launch surface: `spark-submit --py-files` must run the
packaged pipeline end-to-end (synth -> run -> resume-from-checkpoint),
with the library imported ONLY from dist/remine_spark.zip: every submit runs
in a directory without the source tree, with no PYTHONPATH."""

import os
import shutil
import subprocess
from pathlib import Path

SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
ROOT = Path(__file__).resolve().parents[1]


def _submit(cwd, *args):
    cmd = [
        SUBMIT, "--master", "local[4]",
        "--py-files", str(ROOT / "dist" / "remine_spark.zip"),
        str(ROOT / "scripts" / "submit_main.py"), *args,
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                          text=True, timeout=300)


def _triples(proc):
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("triples=")][0]
    return int(line.split("=", 1)[1].split()[0])


def test_spark_submit_pipeline_and_resume(tmp_path):
    subprocess.run(["bash", str(ROOT / "scripts" / "package.sh")],
                   check=True, capture_output=True)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    pages, wd = str(tmp_path / "pages"), str(tmp_path / "wd")

    synth = _submit(cwd, "synth", "--docs", "120", "--output", pages)
    assert synth.returncode == 0, synth.stderr[-2000:]

    run_args = ("run", "--input", pages, "--workdir", wd,
                "--inner-iters", "1", "--transe-epochs", "2")
    cold = _submit(cwd, *run_args)
    assert cold.returncode == 0, cold.stderr[-2000:]
    n = _triples(cold)
    assert n > 0

    # identical re-submit resumes from the stage checkpoints in wd and
    # must reproduce the exact triple count
    resumed = _submit(cwd, *run_args)
    assert resumed.returncode == 0, resumed.stderr[-2000:]
    assert _triples(resumed) == n
