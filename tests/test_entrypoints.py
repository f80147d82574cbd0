"""The jobs/ entry points import and parse their arguments.

Each case runs ``--help`` in a fresh interpreter, the way users launch
the scripts: an import broken by a change anywhere under tripsu_spark/
fails here instead of only at launch. ``--help`` exits inside argparse,
before any Spark session starts.
"""

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "argv, expected",
    [
        (["jobs/run_pipeline.py", "--help"],
         ["usage: run_pipeline.py", "--input", "--output", "--store-compact"]),
        (["jobs/tripsu_cli.py", "--help"],
         ["usage: tripsu-spark", "{index,pseudo}"]),
        (["jobs/tripsu_cli.py", "index", "--help"],
         ["usage: tripsu-spark index", "--output"]),
        (["jobs/tripsu_cli.py", "pseudo", "--help"],
         ["usage: tripsu-spark pseudo", "--index", "--rules", "--secret"]),
        (["jobs/dedup_job.py", "--help"],
         ["usage: dedup_job.py", "--input", "--mode"]),
    ],
    ids=["run_pipeline", "tripsu_cli", "tripsu_cli-index", "tripsu_cli-pseudo", "dedup_job"],
)
def test_help_exits_zero(argv, expected):
    proc = subprocess.run(
        [sys.executable, *argv], cwd=ROOT, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    for text in expected:
        assert text in proc.stdout, (text, proc.stdout)
