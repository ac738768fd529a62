"""Smoke test of the benchmark itself, at a tiny corpus.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs once, traced, with all its checks passing; the
printed metric names must be exactly BENCHMARK.json's lists, the trace
must carry the spans and counters those metrics come from, and the
traced layers must account for every op's wall.  A run whose program
output is deliberately wrong must report failed ops, each check must
reject a wrong output, and the attribution check must fail when time
between traced calls belongs to no layer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402  (the benchmark's entry module, found via HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# Spans the per-layer metrics and the attribution check are derived from.
LAYER_SPANS = {"fused.build", "graph.pending", "fused.exec", "input.read",
               "graph.pending_plan",
               "graph.append.edge", "graph.append.node",
               "graph.append.provenance", "graph.read_current",
               "sparql.compile", "sparql.exec", "rank.build", "rank.topk"}

TINY = ["--seed", "3", "--seconds", "1"]

# Runs run.py on a 60-page corpus; {patch} may change the program first.
_LAUNCH = """
import sys
sys.path[:0] = [{root!r}, {here!r}]
{patch}
import run
run.PAGES = dict.fromkeys(run.PAGES, 60)
run.main(sys.argv[1:])
"""

# build_triples drops every citation triple.
_BROKEN = """
from ferenda_spark import pipeline
from pyspark.sql import functions as F
good = pipeline.build_triples
pipeline.build_triples = lambda *a, **kw: good(*a, **kw).filter(
    F.col("pred") != "dcterms:references")
"""


def _run(args, patch=""):
    script = _LAUNCH.format(root=ROOT, here=HERE, patch=patch)
    p = subprocess.run([sys.executable, "-c", script] + args, cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    tagged = {ln.split(" ", 1)[0]: json.loads(ln.split(" ", 1)[1])
              for ln in lines[:-1] if ln.startswith(("INFO ", "TRACE "))}
    return json.loads(lines[-1]), tagged


def _names(key):
    return {m["name"]: m["unit"] for m in SPEC[key]}


def test_listed_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} == set(run.PAGES)


@pytest.mark.parametrize("workload", sorted(run.PAGES))
def test_traced_run_passes_checks_and_pins_names(workload):
    result, tagged = _run(["--workload", workload, "--trace", "1"] + TINY)
    assert result["correct"] and result["failed"] == 0, tagged["INFO"]
    assert result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        _names("per_layer")
    ends = tagged["TRACE"]["end_to_end"]
    assert {k: v["unit"] for k, v in ends.items()} == _names("end_to_end")
    assert all(v["value"] > 0 for v in ends.values())

    with open(os.path.join(ROOT, tagged["TRACE"]["file"])) as f:
        trace = json.load(f)
    names = {s["name"] for s in trace["spans"]}
    assert LAYER_SPANS <= names, LAYER_SPANS - names
    from layertrace import COUNTERS
    for s in trace["spans"]:
        assert set(COUNTERS) <= set(s["counters"])
    for kind, a in tagged["TRACE"]["attribution"].items():
        assert a["adds_up"], kind


def test_wrong_output_fails_its_checks():
    result, tagged = _run(["--workload", "cold_build", "--trace", "0"] + TINY,
                          patch=_BROKEN)
    assert not result["correct"] and result["failed"] > 0
    assert any("recall" in f for f in tagged["INFO"]["failures"])
    assert set(result["metrics"]) == set(_names("end_to_end"))


def test_checks_reject_wrong_outputs():
    import workloads as wl

    golden = {("s", "p", str(i), False, None, None) for i in range(100)}
    wl.check_precision_recall(golden, golden)
    with pytest.raises(wl.CheckFailed):
        wl.check_precision_recall(set(list(golden)[:90]), golden)
    with pytest.raises(wl.CheckFailed):
        wl.check_precision_recall(
            golden | {("t", "p", str(i), False, None, None) for i in range(9)},
            golden)

    expected = ["ROW\ta\t1", "ROW\tb\t2"]
    wl.check_lines("ROW\tb\t2\nROW\ta\t1\nDONE 2 rows\n", expected)
    for bad in ("ROW\ta\t1\nDONE 1 rows\n",
                "ROW\tb\t2\nROW\ta\t9\nDONE 2 rows\n",
                "ROW\tb\t2\nROW\ta\t1\n"):
        with pytest.raises(wl.CheckFailed):
            wl.check_lines(bad, expected)

    wl.check_skipped({"skipped": True})
    with pytest.raises(wl.CheckFailed):
        wl.check_skipped({"skipped": False, "pages": 3})


def _span(sid, name, t0, t1, parent=None):
    return {"id": sid, "name": name, "parent": parent, "op": 0,
            "t0": t0, "t1": t1, "attrs": {"op": parent is None}}


def test_attribution_fails_on_an_untraced_gap():
    import report

    def check(children):
        tree = [_span(0, "build", 0.0, 10.0)] + [
            _span(i, name, t0, t1, parent=0)
            for i, (name, t0, t1) in enumerate(children, 1)]
        return report.attribution([tree[0]], {0: tree})["build"]

    covered = check([("fused.build", 0.0, 3.0), ("fused.exec", 3.0, 9.5)])
    assert covered["adds_up"]
    assert covered["max_unattributed_share"] == pytest.approx(0.05)
    # 3 s between the two traced calls belong to no layer
    gap = check([("fused.build", 0.0, 3.0), ("fused.exec", 6.0, 10.0)])
    assert not gap["adds_up"]
    assert gap["self_s"]["unattributed"] == pytest.approx(3.0)
