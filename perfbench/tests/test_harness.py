"""Failure accounting of the closed loop, and the run's exit status outside
a full checkout (no Spark needed)."""

import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from harness import closed_loop  # noqa: E402


def _ok():
    return 10, "ok"


def _check(out):
    return [] if out == "ok" else [f"bad output {out!r}"]


def test_every_attempt_is_counted_and_failures_are_kept():
    outcomes = iter(["ok", "raise", "wrong", "ok"])

    def rep():
        o = next(outcomes)
        if o == "raise":
            raise ValueError("planted")
        return 10, o

    loop = closed_loop(rep, _check, seconds=0, min_reps=4)
    assert (loop.attempted, loop.failed) == (4, 2)
    assert loop.failed_frac == 0.5
    assert len(loop.walls) == 2 and len(loop.errors) == 2
    assert "ValueError" in loop.errors[0] and "bad output" in loop.errors[1]


def test_killed_repetition_lands_in_failed_frac():
    def killed():
        # a child killed by SIGKILL, as the OOM killer would
        subprocess.run([sys.executable, "-c",
                        "import os, signal; os.kill(os.getpid(), signal.SIGKILL)"],
                       check=True)
        return _ok()

    reps = iter([_ok, killed, _ok])
    loop = closed_loop(lambda: next(reps)(), _check, seconds=0, min_reps=3)
    assert (loop.attempted, loop.failed) == (3, 1)
    assert "CalledProcessError" in loop.errors[0]


def test_lost_jvm_stops_the_loop_and_counts_as_failed():
    calls = []

    def rep():
        calls.append(1)
        raise ConnectionRefusedError("gateway gone")

    loop = closed_loop(rep, _check, seconds=0, min_reps=5)
    assert len(calls) == 1
    assert (loop.attempted, loop.failed) == (1, 1)
    assert loop.failed_frac == 1.0


def test_check_that_raises_is_a_failure():
    def bad_check(out):
        raise KeyError("n")

    loop = closed_loop(_ok, bad_check, seconds=0, min_reps=2)
    assert (loop.attempted, loop.failed) == (2, 2)


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tile_attach",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode == 2
    assert p.stdout == ""
