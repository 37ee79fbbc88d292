"""One benchmark run of one workload, in its own process.

Started by ``perfbench/run.py``, which gives it private Spark scratch
directories and samples its memory.  Protocol:

1. generate the inputs from the seed and compute the oracle's answer
   (before any clock);
2. SETUPS times: a fresh session (``get_spark``), input registration and the
   cold first pass, checked; ``setup_s`` is the median (the first of these
   also pays the JVM launch);
3. WARMUP untimed passes on the last session;
4. timed passes until ``--seconds`` have passed (at least MIN_PASSES);
   with ``--trace 1`` untraced and traced passes alternate, and the traced
   ones give the per-layer figures;
5. with ``--trace 1``, the workload's traced-only section, if it has one
   (``workloads.TRACED_ONLY``): one untraced pass, then SECTION_PASSES
   traced ones;
6. stop the session and wait for the JVM to exit.

Every pass is checked against the oracle; a pass that raises or returns a
wrong answer counts as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

from perfbench import trace as T
from perfbench.workloads import TRACED_ONLY, WORKLOADS, compare

SETUPS = 3
WARMUP = 1
MIN_PASSES = 3
SECTION_PASSES = 3
# local[3]: the fourth core stays with the driver JVM and Python, which
# plan and launch the many short jobs; passes were steadier than at local[4]
CORES = min(3, os.cpu_count() or 1)


T0 = time.time()


def log(msg: str):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


class Run:
    def __init__(self, wl, expected):
        self.wl = wl
        self.expected = expected
        self.attempted = 0
        self.failed = 0

    def one_pass(self, spark, inp, tr) -> bool:
        """Run and check one pass; False if it raised or was wrong."""
        self.attempted += 1
        try:
            got = self.wl.run_pass(spark, inp, tr)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return False
        finally:
            tr.release()
        bad = compare(self.expected, got)
        if bad:
            log(f"wrong answer in {bad}")
            self.failed += 1
        return not bad


def stop_session(spark):
    """Stop Spark and wait until the JVM (and with it the Python workers)
    has exited, so no teardown overlaps what comes next."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    from sgspark import joins
    from sgspark.session import get_spark

    wl = WORKLOADS[a.workload]
    section = TRACED_ONLY.get(a.workload) if a.trace else None
    t0 = time.perf_counter()
    inputs = tempfile.mkdtemp(prefix="inputs-", dir=a.work)
    wl.make_inputs(inputs, a.seed)
    expected = wl.expected(inputs)
    if section:
        section_inputs = tempfile.mkdtemp(prefix="section-", dir=a.work)
        section.make_inputs(section_inputs)
        section_run = Run(section, section.expected(section_inputs))
    input_gen_s = time.perf_counter() - t0
    log(f"{a.workload}: inputs and oracle in {input_gen_s:.2f} s")

    run = Run(wl, expected)
    setup, get_spark_s = [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=CORES)
        get_spark_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        inp = wl.register(spark, inputs)
        run.one_pass(spark, inp, T.NullTracer())
        setup.append(time.perf_counter() - t0)
        log(f"setup {i}: {setup[-1]:.2f} s")
        if i < SETUPS - 1:
            spark.stop()
    sc = spark.sparkContext
    for _ in range(WARMUP):
        t0 = time.perf_counter()
        run.one_pass(spark, inp, T.NullTracer())
        log(f"warm-up pass: {time.perf_counter() - t0:.2f} s")

    rdd_growth = []
    untraced, traced, traced_passes, paths = [], [], [], []
    t_end = time.perf_counter() + a.seconds
    while (time.perf_counter() < t_end or len(untraced) < MIN_PASSES
           or (a.trace and len(traced) < MIN_PASSES)):
        rdds = len(sc._jsc.getPersistentRDDs())
        t0 = time.perf_counter()
        run.one_pass(spark, inp, T.NullTracer())
        untraced.append(time.perf_counter() - t0)
        rdd_growth.append(len(sc._jsc.getPersistentRDDs()) - rdds)
        if a.trace:
            tr = T.Tracer(sc, f"p{len(traced)}")
            before = dict(joins.PATH_STATS)
            t0 = time.time()
            run.one_pass(spark, inp, tr)
            traced.append(time.time() - t0)
            traced_passes.append(tr.spans)
            paths.append({k: joins.PATH_STATS[k] - before.get(k, 0)
                          for k in T.JOIN_PATHS})
    log("timed passes done: " + " ".join(f"{x:.2f}" for x in untraced))
    section_walls, section_passes = [], []
    if section:
        sinp = section.register(spark, section_inputs)
        t0 = time.perf_counter()
        section_run.one_pass(spark, sinp, T.NullTracer())
        log(f"{section.name} untraced pass: {time.perf_counter() - t0:.2f} s")
        for i in range(SECTION_PASSES):
            tr = T.Tracer(sc, f"s{i}")
            t0 = time.time()
            section_run.one_pass(spark, sinp, tr)
            section_walls.append(time.time() - t0)
            section_passes.append(tr.spans)
        log(f"{section.name} traced passes: "
            + " ".join(f"{x:.2f}" for x in section_walls))
        run.attempted += section_run.attempted
        run.failed += section_run.failed
    stop_session(spark)
    log("session stopped")

    pass_s = statistics.median(untraced)
    setup_s = statistics.median(setup)
    log(f"{a.workload}: setup_s {setup_s:.3f} (n={len(setup)}), pass_s "
        f"{pass_s:.3f} (n={len(untraced)}), fail_frac "
        f"{run.failed}/{run.attempted}")
    result = {"attempted": run.attempted, "failed": run.failed}
    if not a.trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (wl.rows / pass_s, "1/s"),
        }
    else:
        tasks, failed_tasks = T.read_event_logs(os.path.join(a.work, "events"))
        figs = [T.pass_figures(spans, tasks) for spans in traced_passes]
        med, exact = T.summarise(figs)
        traced_s = statistics.median(traced)
        unattributed_s = statistics.median(
            wall - sum(sp.self_s for sp in spans)
            for wall, spans in zip(traced, traced_passes))
        table = T.layer_table(med, exact, traced_s, pass_s, unattributed_s)
        log(f"{a.workload} layer table ({len(traced)} traced passes):\n"
            + table)
        if section:
            s_med, s_exact = T.summarise(
                [T.pass_figures(spans, tasks) for spans in section_passes])
            log(f"{section.name} layer table ({len(section_walls)} traced "
                "passes):\n" + T.layer_table(
                    s_med, s_exact, statistics.median(section_walls), None,
                    statistics.median(
                        wall - sum(sp.self_s for sp in spans) for wall, spans
                        in zip(section_walls, section_passes))))
            # only the LAYERS are reported, and the section's differ from
            # the workload's
            med = {**s_med, **med}
        m = {"session.get_spark.wall_s": (statistics.median(get_spark_s), "s"),
             "setup.first_s": (setup[0], "s")}
        for layer in T.LAYERS[1:]:
            for k, unit in T.LAYER_FIELDS.items():
                m[f"{layer}.{k}"] = (med.get(layer, {}).get(k, 0), unit)
        for k in T.JOIN_PATHS:
            m[f"joins.path.{k}"] = (statistics.median(p[k] for p in paths),
                                    "count")
        m["spark.failed_tasks"] = (failed_tasks, "count")
        # persisted RDDs an untraced pass leaves behind (median per pass)
        m["spark.persisted_rdds_growth"] = (statistics.median(rdd_growth),
                                            "count")
        m["trace.pass_s"] = (traced_s, "s")
        m["trace.overhead_s"] = (traced_s - pass_s, "s")
        m["trace.unattributed_s"] = (unattributed_s, "s")
        m["input.gen_s"] = (input_gen_s, "s")
        # traced small_jobs pass wall; 0 where the workload hosts none
        m["small_jobs.pass_s"] = (statistics.median(section_walls)
                                  if section_walls else 0, "s")
        result["metrics"] = m
    with open(a.out, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
