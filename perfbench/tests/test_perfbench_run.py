"""The run's process tree: it follows children that leave the process group
(as PySpark's worker daemon does) and keeps them after their parent
exits.  No Spark session is started."""

import os
import signal
import subprocess
import sys
import time

from perfbench.run import ProcessTree

# the child starts a sleeping grandchild in a new session and waits for it
CHILD = ("import subprocess, sys; subprocess.run([sys.executable, '-c', "
         "'import time; time.sleep(60)'], start_new_session=True)")


def test_tree_keeps_grandchild_in_another_group_after_parent_exits():
    proc = subprocess.Popen([sys.executable, "-c", CHILD])
    tree = ProcessTree(proc.pid)
    try:
        deadline = time.monotonic() + 20
        while len(tree.alive()) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        pids = tree.alive()
        assert len(pids) == 2
        grandchild = next(p for p in pids if p != proc.pid)
        assert os.getpgid(grandchild) != os.getpgid(proc.pid)
        assert tree.rss_bytes() > 0

        os.kill(proc.pid, signal.SIGKILL)
        proc.wait(timeout=10)
        # re-parented, but still part of the run's tree
        assert tree.alive() == [grandchild]

        tree.reap(grace_s=0.5)
        assert tree.alive() == []
    finally:
        tree.kill()
        proc.kill()
        proc.wait(timeout=10)
