"""The benchmark's own tests.

    python -m pytest perfbench -q -p no:cacheprovider

The smoke tests start Spark in a subprocess for every workload at its
smallest size (--tiny), in both trace modes, a few minutes in all.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from spans import Span, Tracer, covered, self_times, spread

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))


# -- span self-time arithmetic ---------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4  # clipped to [0, 10]
    assert covered([(3, 3), (7, 6)], 0, 10) == 0  # empty intervals


def test_self_time_subtracts_children_not_grandchildren():
    spans = [Span("root", 0, 10),
             Span("a", 1, 4, parent=0),
             Span("b", 3, 6, parent=0),   # overlaps a: union 1..6
             Span("a.x", 2, 3, parent=1),
             Span("c", 8, 9, parent=0)]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 1, 3, 1, 1])


def test_tracer_records_parents_and_filters_names():
    tr = Tracer(names={"outer", "inner"})
    with tr.span("outer"):
        with tr.span("skipped") as s:
            assert s is None
            with tr.span("inner"):
                pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0
    assert tr.self_durations("outer")[0] <= tr.durations("outer")[0]


def test_spread_is_iqr_over_median():
    assert spread([5.0]) == 0
    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(
        (4.5 - 1.5) / 3.0)


# -- BENCHMARK.json agrees with the metrics the command prints ------------------------
def test_benchmark_json_matches_metric_registry():
    from run import END_TO_END, per_layer

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer()
    assert {w["name"] for w in spec["workloads"]} == {"recrawl", "catalog"}
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


# -- smoke runs ------------------------------------------------------------------
def _run(args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["recrawl", "catalog"])
def test_smoke_prints_every_metric_with_unit(workload, trace):
    from run import END_TO_END, per_layer

    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--tiny"])
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = per_layer() if trace else END_TO_END
    assert {k: m["unit"] for k, m in out["metrics"].items()} == want
    printed = {m.group(1): m.group(2) for m in
               (re.match(r"metric (\S+) = \S+ (\S+)$", ln) for ln in lines)
               if m}
    assert printed == want
    if trace == 0:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_without_the_package_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "recrawl", "--seed", "1", "--seconds", "1"],
             cwd=tmp_path, timeout=180)
    assert p.returncode not in (0, None)
    assert '"metrics"' not in p.stdout
