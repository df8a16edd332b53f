"""Gate scratch files: every process stages under its own temp root
(``__spark_entry__._gate_tmp``) — subprocesses only, no Spark session."""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_STAGE_PROBE = r"""
import os, sys, time
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as entrymod

me, other, sync, sf = sys.argv[2:6]

def build(root):
    os.makedirs(root)
    path = os.path.join(root, me)
    open(path, "w").close()
    open(os.path.join(sync, me), "w").close()
    deadline = time.time() + 60
    while not os.path.exists(os.path.join(sync, other)):
        assert time.time() < deadline, "the other process never built"
        time.sleep(0.05)
    time.sleep(0.3)
    return path

path = entrymod._staged("probe", sf, build)
print("SURVIVED" if os.path.exists(path) else "DELETED", path)
"""


def test_concurrent_processes_keep_their_staged_files(tmp_path):
    """Two processes staging the same kind at the same sf path: each
    build writes a file and waits until the other has built, and both
    files are still there. The second process starts only after the
    first has written its file."""
    sync = tmp_path / "sync"
    sync.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp_path))

    def start(me, other):
        return subprocess.Popen(
            [sys.executable, "-c", _STAGE_PROBE, REPO, me, other, str(sync),
             "/data/sf0.1"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env,
        )

    first = start("a", "b")
    deadline = time.time() + 120
    while not (sync / "a").exists():
        assert first.poll() is None, first.communicate()
        assert time.time() < deadline
        time.sleep(0.05)
    second = start("b", "a")
    outs = [p.communicate(timeout=120) for p in (first, second)]
    for (out, err), p in zip(outs, (first, second)):
        assert p.returncode == 0, err
        assert out.startswith("SURVIVED"), out
    paths = [out.split()[1] for out, _ in outs]
    assert paths[0] != paths[1]
    # each process removed its own gate root at exit
    assert not [p for p in tmp_path.iterdir() if p.name.startswith("qs_gate_")]


_HOLD_GATE_DIR = r"""
import sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as entrymod

print(entrymod._gate_tmp(), flush=True)
sys.stdin.read()  # hold the dir until stdin closes
"""


def test_dirs_of_killed_processes_are_removed(tmp_path):
    """A SIGKILLed process cannot run its exit hook, so its gate dir
    stays behind; the next process's first ``_gate_tmp()`` removes it
    and keeps the dir of a process that is still running."""
    import signal

    env = dict(os.environ, TMPDIR=str(tmp_path))

    def hold():
        p = subprocess.Popen(
            [sys.executable, "-c", _HOLD_GATE_DIR, REPO],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
        )
        return p, p.stdout.readline().strip()

    killed, killed_dir = hold()
    live, live_dir = hold()
    assert os.path.basename(killed_dir).startswith(f"qs_gate_{killed.pid}_")
    killed.send_signal(signal.SIGKILL)
    killed.wait(timeout=60)  # reaped: a zombie's pid still answers
    assert os.path.isdir(killed_dir) and os.path.isdir(live_dir)

    sweeper, sweeper_dir = hold()
    sweeper.communicate("", timeout=120)
    assert not os.path.exists(killed_dir)
    assert os.path.isdir(live_dir)
    assert not os.path.exists(sweeper_dir)  # removed at normal exit
    live.communicate("", timeout=120)
    assert not os.path.exists(live_dir)
