"""Spans around the engine's public layer calls, taken from outside the engine.

A traced pass wraps each call into a layer (``joins.sjoin_pairs`` and so on)
in a span.  Each span:

* runs under its own Spark job group, so every job and task the call starts
  can be attributed to it afterwards;
* materialises the layer's output (persist + count) inside the span, so the
  span's wall time covers the layer's work rather than leaving it to whoever
  consumes the lazy DataFrame next.

Jobs per span come from Spark's status tracker, read as the span closes.
Task times, CPU, GC, shuffle bytes and task intervals come from the event
log, parsed after the session stops (``parse_event_log``).  Nothing here
touches engine code: the engine sees ordinary DataFrame calls.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import StorageLevel

# Layers named after the engine module and public function called.
LAYERS = (
    "session.get_spark",
    "io.extract_geometries",
    "io.wkt_to_wkb_df",
    "tiling.add_grid_id",
    "tiling.gridloop",
    "joins.sjoin_pairs",
    "knn.get_k_nearest_neighbors",
    "overlay.clean_overlay",
    "dissolve.buffdissexp",
    "cleaning.coverage_clean",
    "network.od_cost_matrix",
    "textops.near_dup_pairs",
    "vecops.cosine_topk_lsh",
)
# Per-layer figures reported for every layer but session.get_spark, which
# runs no jobs and gets wall_s only.
LAYER_FIELDS = {
    "wall_s": "s", "driver_s": "s", "task_run_s": "s", "task_cpu_s": "s",
    "gc_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_write_bytes": "bytes", "rows_out": "count",
}
# Keys of joins.PATH_STATS, the engine's join-path counter.
JOIN_PATHS = ("jvm_rects_bcast", "jvm_polys_bcast", "jvm_segs_bcast",
              "jvm_polys2_bcast", "kernel_bcast", "jvm_polys_dist",
              "kernel_dist")


@dataclass
class Span:
    name: str
    group: str
    start: float
    parent: "Span | None" = None
    end: float = 0.0
    jobs: int = 0
    rows_out: int = 0
    children_s: float = 0.0
    tracer: "Tracer | None" = field(default=None, repr=False)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.children_s

    def out(self, df):
        """Materialise a layer's output inside the span (traced passes only)."""
        if self.tracer is None:
            return df
        df = self.tracer.keep(df)
        self.rows_out += df.count()
        return df


class NullTracer:
    """Untraced passes: no job groups and no extra materialisation.

    ``keep`` persists DataFrames the pass itself reuses (the same in traced
    and untraced passes); ``release`` unpersists them when the pass ends.
    """

    def __init__(self):
        self.kept = []

    @contextmanager
    def span(self, name):
        yield Span(name, "", 0.0)

    def keep(self, df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.kept.append(df)
        return df

    def release(self):
        for df in self.kept:
            df.unpersist(blocking=True)
        self.kept.clear()


class Tracer(NullTracer):
    """Records nested spans; each span owns one Spark job group."""

    def __init__(self, sc, prefix: str):
        super().__init__()
        self.sc = sc
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, sp: Span | None):
        if sp is None:
            for k in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(k, None)
        else:
            self.sc.setJobGroup(sp.group, sp.name)

    @contextmanager
    def span(self, name):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{self.prefix}.{len(self.spans)}:{name}",
                  time.time(), parent, tracer=self)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            if parent is not None:
                parent.children_s += sp.wall
            sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.group))


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------
@dataclass
class TaskStats:
    tasks: int = 0
    failed: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    intervals: list = field(default_factory=list)


def parse_event_log(lines) -> tuple[dict[str, TaskStats], int]:
    """Task figures per job group from Spark event-log JSON lines.

    A stage belongs to the job group in its StageSubmitted properties (the
    group of the thread that submitted it), and a task to its stage.
    Returns ({group: TaskStats}, failed tasks over the whole log); tasks of
    stages without a group are counted under "".
    """
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, TaskStats] = {}
    failed = 0
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = \
                props.get("spark.jobGroup.id") or ""
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            group = stage_group.get(
                (ev["Stage ID"], ev["Stage Attempt ID"]), "")
            st = out.setdefault(group, TaskStats())
            st.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                st.failed += 1
                failed += 1
            m = ev.get("Task Metrics") or {}
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            st.intervals.append((info["Launch Time"] / 1e3,
                                 info["Finish Time"] / 1e3))
    return out, failed


def read_event_logs(directory: str) -> tuple[dict[str, TaskStats], int]:
    """Parse every event-log file below `directory` (Spark 4 writes one
    directory of rolled files per application)."""
    lines = []
    for parent, _, names in sorted(os.walk(directory)):
        for name in sorted(names):
            if name.startswith("events_") or name.startswith("local-"):
                with open(os.path.join(parent, name), encoding="utf-8") as f:
                    lines.extend(f)
    return parse_event_log(lines)


def busy_s(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# per-pass layer figures and the layer table
# --------------------------------------------------------------------------
def span_figures(sp: Span, tasks: dict[str, TaskStats]) -> dict[str, float]:
    st = tasks.get(sp.group, TaskStats())
    return {
        "wall_s": sp.wall,
        "self_s": sp.self_s,
        # time in the span's own share in which none of its tasks ran:
        # planning, driver probes and collects, job launch
        "driver_s": sp.self_s - busy_s(st.intervals, sp.start, sp.end),
        "task_run_s": st.run_s,
        "task_cpu_s": st.cpu_s,
        "gc_s": st.gc_s,
        "jobs": sp.jobs,
        "tasks": st.tasks,
        "shuffle_write_bytes": st.shuffle_write_bytes,
        "rows_out": sp.rows_out,
    }


def pass_figures(spans: list[Span], tasks) -> dict[str, dict[str, float]]:
    """Sum the figures of same-named spans within one pass."""
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        acc = out.setdefault(sp.name, {})
        for k, v in span_figures(sp, tasks).items():
            acc[k] = acc.get(k, 0) + v
    return out


def summarise(passes: list[dict[str, dict[str, float]]]):
    """Median of each figure over passes, and whether each repeated exactly.

    A layer missing from a pass counts as zero there.
    """
    names = sorted({n for p in passes for n in p})
    med: dict[str, dict[str, float]] = {}
    exact: dict[str, dict[str, bool]] = {}
    for n in names:
        keys = sorted({k for p in passes for k in p.get(n, {})})
        med[n], exact[n] = {}, {}
        for k in keys:
            vals = [p.get(n, {}).get(k, 0) for p in passes]
            med[n][k] = statistics.median(vals)
            exact[n][k] = len(set(vals)) == 1
    return med, exact


def layer_table(med, exact, traced_pass_s: float,
                untraced_pass_s: float | None, unattributed_s: float) -> str:
    """Markdown table of span self-times with reconciliation and flags.

    `unattributed_s` is the median over traced passes of the pass wall
    minus the sum of its spans' self-times.  Without `untraced_pass_s`
    (a section that runs traced only) no tracing overhead is given."""
    rows = sorted(med.items(), key=lambda kv: -kv[1]["self_s"])
    lines = [
        "| span | self_s | share | driver_s | task_run_s | task_cpu_s | "
        "gc_s | jobs | tasks | shuffle_write_bytes | rows_out |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]

    def cnt(n, k):
        return f"{med[n][k]:.0f}" + ("" if exact[n][k] else " ~")

    for n, v in rows:
        lines.append(
            f"| {n} | {v['self_s']:.3f} | {v['self_s'] / traced_pass_s:.1%} "
            f"| {v['driver_s']:.3f} | {v['task_run_s']:.3f} | "
            f"{v['task_cpu_s']:.3f} | {v['gc_s']:.3f} | {cnt(n, 'jobs')} | "
            f"{cnt(n, 'tasks')} | {cnt(n, 'shuffle_write_bytes')} | "
            f"{cnt(n, 'rows_out')} |")
    layers = [n for n, _ in rows if not n.startswith("bench.")]
    lines += [
        "",
        f"- traced pass wall (median): {traced_pass_s:.3f} s; not covered "
        f"by any span (median per pass): {unattributed_s:.3f} s "
        f"({unattributed_s / traced_pass_s:.1%}), so the span self-times "
        f"reconcile with the pass wall to that share",
    ]
    if untraced_pass_s is not None:
        lines.append(
            f"- untraced pass_s (median, same run): {untraced_pass_s:.3f} s; "
            f"tracing overhead: {traced_pass_s - untraced_pass_s:+.3f} s")
    lines += [
        f"- top layers: {', '.join(layers[:3])}",
        "- counts marked ~ did not repeat exactly across the traced passes "
        "(the median is shown)",
    ]
    return "\n".join(lines)
