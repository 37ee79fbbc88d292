"""The oracle fingerprints and the pass check: a wrong answer or a raising
pass counts as failed.  No Spark session is started."""

import pandas as pd

from perfbench import workloads as W
from perfbench.trace import NullTracer
from perfbench.worker import Run


def test_duckdb_fingerprint_definition():
    con = W._duck({})
    q = ("SELECT * FROM (VALUES (1, 2.0), (5, 3.0), "
         f"(CAST({W.P} AS BIGINT) + 2, 4.0)) t(k, v)")
    # rows, sum of key mod P, sum of values, sum of value * (key mod 1009)
    assert W._duck_fingerprint(con, q, "k") == (3, 1 + 5 + 2)
    assert W._duck_fingerprint(con, q, "k", "v") == (
        3, 8, 9.0, 2.0 * 1 + 3.0 * 5 + 4.0 * ((W.P + 2) % 1009))


def test_polygon_oracle_covers_every_shape(tmp_path):
    wl = W.PolygonAlgebra()
    wl.make_inputs(str(tmp_path), seed=3)
    got = wl.expected(str(tmp_path))
    n_a = len(pd.read_parquet(tmp_path / "a"))
    assert n_a == wl.A_ROWS * 40
    # one buffered part per A shape; most A shapes meet a B shape
    assert got["buffdiss"][0] == n_a
    assert got["overlay"][0] > n_a // 2


def test_seed_fixes_inputs(tmp_path):
    wl = W.PolygonAlgebra()
    for name, seed in (("x", 9), ("y", 9), ("z", 10)):
        wl.make_inputs(str(tmp_path / name), seed)
    same = [pd.read_parquet(tmp_path / n / "a") for n in ("x", "y", "z")]
    assert same[0].equals(same[1]) and not same[0].equals(same[2])


class FakeWorkload:
    def __init__(self, answers):
        self.answers = iter(answers)

    def run_pass(self, spark, inp, tr):
        ans = next(self.answers)
        if isinstance(ans, Exception):
            raise ans
        return ans


def test_wrong_or_raising_pass_counts_as_failed():
    expected = {"pip": (3, 12), "tiles": {"a": 1}}
    run = Run(FakeWorkload([
        {"pip": (3, 12), "tiles": {"a": 1}},        # right
        {"pip": (3, 13), "tiles": {"a": 1}},        # wrong checksum
        {"pip": (3, 12)},                           # missing part
        RuntimeError("executor lost"),              # raises
    ]), expected)
    results = [run.one_pass(None, None, NullTracer()) for _ in range(4)]
    assert results == [True, False, False, False]
    assert (run.attempted, run.failed) == (4, 3)


def test_compare_names_the_wrong_parts():
    assert W.compare({"a": 1, "b": (2, 3)}, {"a": 1, "b": (2, 3)}) == []
    assert W.compare({"a": 1, "b": (2, 3)}, {"a": 2, "c": 0}) == \
        ["a", "b", "c"]
