"""Run a Python snippet in a child process, optionally SIGKILLing it when a
sentinel file appears: the crash half of the kill-and-resume tests."""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

# The child's session, with the test session's parallelism
SPARK = ("from mmgraphrag_spark.session import get_spark\n"
         "spark = get_spark('child', cores=4, shuffle_partitions=8)\n")


def run_child(code: str, log: Path, kill_on: str | None = None,
              deadline_s: float = 300.0) -> None:
    """Run ``code`` with ``python -c`` in a new session, its output going to
    ``log``.

    With ``kill_on=None``, wait for the child to exit 0. Otherwise SIGKILL
    the child's whole process group (the driver, its JVM and every Python
    worker) as soon as a path matches the glob ``kill_on``. The test fails
    when the child exits non-zero, exits before the sentinel appears, or
    outlives ``deadline_s``.
    """
    env = dict(os.environ)
    # Spark's Python workers import the package: they need the checkout too
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    with open(log, "ab") as out:
        proc = subprocess.Popen(
            [sys.executable, "-c", code], cwd=REPO, env=env, stdout=out,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
    end = time.monotonic() + deadline_s
    try:
        while proc.poll() is None and time.monotonic() < end:
            if kill_on is not None and glob.glob(kill_on):
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                return
            time.sleep(0.05)
        tail = Path(log).read_text(errors="replace")[-3000:]
        assert proc.returncode is not None, (
            f"child outlived its {deadline_s:.0f} s deadline\n{tail}")
        assert proc.returncode == 0, (
            f"child exited {proc.returncode}\n{tail}")
        assert kill_on is None, (
            f"child finished before {kill_on} appeared\n{tail}")
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
