"""Metrics from one run: the end-to-end set every workload reports, the
workload's own figures, and the per-layer metrics of a traced run."""

from __future__ import annotations

import math

import oracle
from layertrace import COUNTERS, self_time
from workloads import median


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(wl, setup_s: float) -> dict:
    """BENCHMARK.json ``end_to_end``: the same names on every workload.

    The main op is a cold build (cold_build) or one SPARQL query (serve);
    the follow-up op is a rerun that must skip (cold_build) or a PageRank
    top-20 (serve).
    """
    return {
        "setup_s": _m(setup_s, "s"),
        "op_p50_s": _m(median(wl.main), "s"),
        "work_per_s": _m(wl.work_per_s(), "1/s"),
        "followup_p50_s": _m(median(wl.followup), "s"),
        "store_bytes_per_triple": _m(median(wl.bytes_per_triple), "B"),
    }


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)] if xs else 0.0


def workload_figures(wl) -> dict:
    """The figures named per workload, each with its unit and sample
    count."""
    n_main, n_follow = len(wl.main), len(wl.followup)
    if wl.name == "cold_build":
        return {
            "build_triples_per_s": [wl.work_per_s(), "1/s", n_main],
            "build_s": [median(wl.main), "s", n_main],
            "noop_s": [median(wl.followup), "s", n_follow],
            "store_bytes_per_triple": [median(wl.bytes_per_triple), "B", n_main],
        }
    per_class = {}
    for cls, wall in zip(wl.classes, wl.main):
        per_class.setdefault(cls, []).append(wall)
    out = {
        "query_per_s": [wl.work_per_s(), "1/s", n_main],
        "query_p50_s": [median(wl.main), "s", n_main],
        "query_p90_s": [percentile(wl.main, 0.9), "s", n_main],
        "rank_s": [median(wl.followup), "s", n_follow],
    }
    for cls, walls in sorted(per_class.items()):
        out[f"query_{cls}_p50_s"] = [median(walls), "s", len(walls)]
    return out


# Per-layer metrics of BENCHMARK.json: name -> (unit, op kinds, per-op value).
def _sum_named(name):
    return lambda op, tree: sum(s["t1"] - s["t0"] for s in tree
                                if s["name"] == name)


def _extract_stage(tree):
    """The stage doing most of the work inside the edge-materialising
    action: the one running the Python extract."""
    stages = [st for s in tree if s["name"] == "fused.exec"
              for st in s.get("stages", [])]
    return max(stages, key=lambda st: st["run_ms"]) if stages else None


def _extract(field):
    def f(op, tree):
        st = _extract_stage(tree)
        return st[field] if st else None
    return f


def _outermost(name):
    def f(op, tree):
        ids = {s["id"]: s for s in tree}
        return sum(s["t1"] - s["t0"] for s in tree if s["name"] == name
                   and (s["parent"] is None
                        or ids.get(s["parent"], {}).get("name") != name))
    return f


def _counter(key):
    return lambda op, tree: sum(s.get("counters", {}).get(key, 0)
                                for s in tree)


WRITE = ("build",)
RUN = ("build", "noop")
QUERY = tuple(f"query.{c}" for c in oracle.CLASSES)
READ = QUERY + ("rank",)

LAYERS = {
    "fused.build_s": ("s", WRITE, _sum_named("fused.build")),
    "fused.py4j_calls": ("count", WRITE, lambda op, tree: sum(
        s["py4j1"] - s["py4j0"] for s in tree if s["name"] == "fused.build")),
    "graph.pending_s": ("s", RUN, _sum_named("graph.pending")),
    "extract.exec_s": ("s", WRITE, _extract("wall_s")),
    "extract.max_task_share": ("ratio", WRITE, _extract("max_task_share")),
    "graph.append_s.edge": ("s", WRITE, _sum_named("graph.append.edge")),
    "graph.append_s.node": ("s", WRITE, _sum_named("graph.append.node")),
    "graph.append_s.provenance": ("s", WRITE,
                                  _sum_named("graph.append.provenance")),
    "graph.bytes_written": ("B", WRITE, _counter("spark.output_bytes")),
    "graph.read_current_s": ("s", READ, _sum_named("graph.read_current")),
    "graph.snapshots_read": ("count", READ, lambda op, tree: sum(
        s["attrs"].get("snapshots", 0) for s in tree)),
    "sparql.compile_s": ("s", QUERY, _outermost("sparql.compile")),
    "sparql.exec_s": ("s", QUERY, _sum_named("sparql.exec")),
    **{f"sparql.{q[6:]}.p50_s": ("s", (q,), lambda op, tree: op["t1"] - op["t0"])
       for q in QUERY},
    "rank.build_s": ("s", ("rank",), _sum_named("rank.build")),
    "rank.topk_s": ("s", ("rank",), _sum_named("rank.topk")),
}
MAIN_KINDS = {"cold_build": WRITE, "serve": QUERY}
for _c in COUNTERS:
    LAYERS[f"op.{_c}"] = ("B" if _c.endswith("bytes") else "count",
                          None, _counter(_c))


def layers(wl, tracer, session_s: float):
    """Per-layer metrics (median over the traced ops of each layer's op
    kinds), plus the attribution check."""
    ops = tracer.ops()
    trees = {op["id"]: tracer.tree(op) for op in ops}
    out = {"session.start_s": _m(session_s, "s")}
    for name, (unit, kinds, fn) in LAYERS.items():
        kinds = kinds or MAIN_KINDS[wl.name]
        vals = [fn(op, trees[op["id"]]) for op in ops if op["name"] in kinds]
        out[name] = _m(median(v for v in vals if v is not None), unit)
    return out, {"attribution": attribution(ops, trees)}


# Largest share of an op's wall that may lie outside every traced layer
# before the attribution check fails.
UNATTRIBUTED_MAX = 0.2


def attribution(ops, trees) -> dict:
    """Per op kind: the op wall and each layer's self time (medians over
    the traced ops), and the attribution check.  Every span lies on the
    blocking path in this single-client loop, so the layers' self times
    should account for the op wall; what they leave is ``unattributed``,
    the op span's own self time (driver work between the traced calls).
    The check (``adds_up``) holds when, in every op of the kind,
    ``unattributed`` is at most ``UNATTRIBUTED_MAX`` of the wall."""
    by_kind: dict[str, list] = {}
    for op in ops:
        tree = trees[op["id"]]
        selfs: dict[str, float] = {}
        for s in tree:
            key = "unattributed" if s is op else s["name"]
            selfs[key] = selfs.get(key, 0.0) + self_time(s, tree)
        by_kind.setdefault(op["name"], []).append(
            (op["t1"] - op["t0"], selfs))
    out = {}
    for kind, rows in by_kind.items():
        names = sorted({n for _, sl in rows for n in sl})
        worst = max(sl["unattributed"] / w for w, sl in rows)
        out[kind] = {
            "ops": len(rows),
            "wall_s": median(w for w, _ in rows),
            "self_s": {n: median(sl.get(n, 0.0) for _, sl in rows)
                       for n in names},
            "max_unattributed_share": worst,
            "adds_up": worst <= UNATTRIBUTED_MAX,
        }
    return out
