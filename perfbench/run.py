"""sgspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload docs_join --seed 1 --seconds 12 --trace 0

Run from the repository root.  Workloads: docs_join, polygon_algebra (see
perfbench/README.md).  The run:

* makes a private scratch directory under .perfbench_work/ holding the Spark
  local dirs, warehouse, event log and temp files, and deletes it at the end;
* starts perfbench/worker.py as a fresh process and samples the resident
  memory of its process tree (the driver Python, the JVM, PySpark's worker
  daemon and the Python workers) from /proc in one thread;
* waits until every process of that tree has exited;
* prints, as the last line of stdout, one JSON object with `correct`,
  `attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
  per-layer metrics with --trace 1).

Exits non-zero, printing no result, when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

WORKLOADS = ("docs_join", "polygon_algebra")
TIMEOUT_S = 165
DRIVER_MEM = "2g"
PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str]]:
    """{pid: (ppid, start time)} of every process in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid ...; the
        # start time is field 22, the 20th after the command
        fields = stat.rsplit(")", 1)[1].split()
        table[int(name)] = (int(fields[1]), fields[19])
    return table


class ProcessTree:
    """The processes descended from one root pid.

    PySpark's worker daemon moves itself and the Python workers it forks
    into a new process group, so the tree is followed by parent pid, not
    by group.  A process stays known once seen, also after its parent
    exits and it is re-parented; it is matched by (pid, start time), so a
    reused pid is not taken for it.  The sampler thread and the main thread
    both walk the tree."""

    def __init__(self, root: int):
        self.root = root
        self.seen: set[tuple[int, str]] = set()
        self._lock = threading.Lock()

    def alive(self) -> list[int]:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        stack = [self.root] if self.root in table else []
        with self._lock:
            while stack:
                pid = stack.pop()
                self.seen.add((pid, table[pid][1]))
                stack.extend(children.get(pid, ()))
            return [pid for pid, start in self.seen
                    if pid in table and table[pid][1] == start]

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.alive():
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                    total += int(f.read().split()[1]) * PAGE
            except OSError:
                continue
        return total

    def kill(self):
        for pid in self.alive():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def reap(self, grace_s: float = 30.0):
        """Wait until no process of the tree is left; kill stragglers."""
        deadline = time.monotonic() + grace_s
        while self.alive():
            if time.monotonic() > deadline:
                self.kill()
                deadline = time.monotonic() + grace_s
            time.sleep(0.05)


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled every `period` s."""

    def __init__(self, tree: ProcessTree, period: float = 0.1):
        super().__init__(daemon=True)
        self.tree, self.period = tree, period
        self.peak = 0
        self.done = threading.Event()

    def run(self):
        while not self.done.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self.done.wait(self.period)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sgspark", "session.py")):
        print("perfbench: run from the repository root (no sgspark/ here)",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        return run(a, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, root: str, work: str) -> int:
    dirs = {k: os.path.join(work, k) for k in
            ("local", "warehouse", "events", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    conf = {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
            # a fixed heap size: heap growth made GC time vary between runs
            f" -Xms{DRIVER_MEM} -XX:-UsePerfData",
    }
    if a.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + dirs["events"],
                     "spark.eventLog.compress": "false"})
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        SGSPARK_DRIVER_MEM=DRIVER_MEM,
        SGSPARK_EXTRA_CONF=";".join(f"{k}={v}" for k, v in conf.items()),
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
    )
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr)
    tree = ProcessTree(proc.pid)
    sampler = RssSampler(tree)
    sampler.start()
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        tree.kill()
        code = proc.wait()
    finally:
        sampler.done.set()
        sampler.join()
        tree.reap()
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker exited with code {code}", file=sys.stderr)
        return 1
    with open(out, encoding="utf-8") as f:
        res = json.load(f)
    metrics = res["metrics"]
    peak_mb = sampler.peak / 2**20
    print(f"[perfbench] peak_rss_mb {peak_mb:.1f}", file=sys.stderr)
    if a.trace:
        metrics["peak_rss_mb"] = (peak_mb, "MB")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
