"""The workloads: what set-up builds, what one measured cycle
runs, and the check every op must pass.

Each op goes through the package's production entry points:
``pipeline.run_pipeline`` into a ``GraphStore``, ``tools/query_graph.py``'s
``run`` and ``operators.rank.pagerank``.  Checks run after the op's
timer stops; an exception or a failed check counts the op as failed and
the run goes on.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import entities_df
from ferenda_spark.operators.analytics import ranked_topk
from ferenda_spark.operators.graph import GraphStore
from ferenda_spark.operators.rank import pagerank
from ferenda_spark.pipeline import run_pipeline

import inputs
import oracle


class CheckFailed(Exception):
    """An op's output disagrees with the benchmark's expectation."""


def _expect(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def load_query_cli(root: str):
    """``tools/query_graph.py`` as a module (it is a script, not a package
    member)."""
    spec = importlib.util.spec_from_file_location(
        "query_graph", os.path.join(root, "tools", "query_graph.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def store_bytes(path: str) -> int:
    """On-disk bytes of a store's data files (parquet parts of the edge,
    node and provenance tables; no checksums or manifests)."""
    total = 0
    for table in ("edge", "node", "provenance"):
        for d, _, files in os.walk(os.path.join(path, table)):
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in files if f.endswith(".parquet"))
    return total


def committed_set(store_dir: str) -> set[tuple]:
    """The store's committed current edge view, read from its files by
    the oracle."""
    con = oracle.current_view(store_dir)
    try:
        return set(con.execute("SELECT * FROM cur").fetchall())
    finally:
        con.close()


def check_precision_recall(got: set, golden: set, floor: float = 0.95):
    tp = len(got & golden)
    p = tp / len(got) if got else 0.0
    r = tp / len(golden) if golden else 0.0
    _expect(p >= floor and r >= floor,
            f"precision {p:.4f} / recall {r:.4f} below {floor}")
    return p, r


def check_skipped(res: dict) -> None:
    _expect(res.get("skipped") is True, f"rerun did not skip: {res}")


def check_lines(out: str, expected: list[str]) -> None:
    lines = out.splitlines()
    body = sorted(ln for ln in lines
                  if ln.startswith("ROW\t") or ln.startswith("TRIPLE "))
    _expect(bool(lines) and lines[-1] == f"DONE {len(body)} rows",
            "missing or wrong DONE line")
    _expect(body == expected,
            f"{len(body)} rows differ from the {len(expected)} expected")


class Workload:
    """Common op bookkeeping.  ``main`` and ``followup`` hold the walls
    of passing measured ops, ``work`` the committed triples per second of
    each build, and ``check_s`` the time spent checking outputs."""

    name = ""
    # Measured cycles a run holds at the least.
    min_cycles = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.main: list[float] = []
        self.work: list[float] = []
        self.followup: list[float] = []
        self.bytes_per_triple: list[float] = []
        self.check_s = 0.0
        self.entities = entities_df(self.spark)

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.workdir, *parts)

    def run_op(self, kind: str, fn, check, traced: bool):
        """Time ``fn`` as one op, then check its output outside the
        timer.  Returns (wall, output) or None when the op failed."""
        self.attempted += 1
        self.tracer.enabled = traced
        try:
            with self.tracer.op(kind):
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
        except Exception as e:  # a failing op is a result, not a crash
            self._fail(kind, e)
            return None
        finally:
            self.tracer.enabled = False
        t0 = time.perf_counter()
        try:
            check(out)
        except Exception as e:
            self._fail(kind, e)
            return None
        finally:
            self.check_s += time.perf_counter() - t0
        return wall, out

    def _fail(self, kind: str, e: Exception) -> None:
        self.failed += 1
        self.failures.append(f"{kind}: {type(e).__name__}: {e}")

    def pipeline(self, pages_path: str, store: GraphStore) -> dict:
        with self.tracer.span("input.read"):
            pages = self.spark.read.parquet(pages_path)
        return run_pipeline(self.spark, pages, self.entities, store)

    def noops(self, pages_path: str, store: GraphStore, traced: bool,
              record: bool, count: int) -> None:
        for _ in range(count):
            r = self.run_op("noop", lambda: self.pipeline(pages_path, store),
                            check_skipped, traced)
            if r and record:
                self.followup.append(r[0])

    def prepare_checks(self) -> None:
        """Compute expected outputs; runs between set-up and warm-up and
        is not part of ``setup_s``."""


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


class ColdBuild(Workload):
    """One cycle: ``run_pipeline`` of a seeded corpus (one parquet file,
    one row group) into an empty store, checked against the golden
    triples, then reruns that must skip.  The previous cycle's store is
    removed."""

    name = "cold_build"
    # A cycle takes 8-11 s on a 4-core host, so with ``--seconds 20``
    # every run holds exactly two builds, however fast the host is that
    # day: the first build after the warm-up is still the slower one,
    # and a run of one build would report it alone.
    min_cycles = 2

    def setup(self) -> None:
        self.pages = self.path("pages")
        inputs.write_pages(self.spark,
                           inputs.corpus(self.ctx.pages, self.ctx.seed),
                           self.pages, files=1)

    def prepare_checks(self) -> None:
        self.golden = inputs.golden_triples(self.ctx.pages, self.ctx.seed)

    def warm_up(self) -> None:
        # The first build in a process pays JIT compilation of the driver
        # and planner paths and the Python workers' imports; one full
        # cycle warms both up, and the median of the measured builds
        # absorbs what is left of that trend.
        self.cycle(traced=False, record=False)

    def work_per_s(self) -> float:
        """Committed triples per second of build wall, median over ops."""
        return median(self.work)

    def check_commit(self, res: dict, store_dir: str) -> None:
        _expect(not res["skipped"] and res["triples"] > 0,
                f"build committed nothing: {res}")
        check_precision_recall(committed_set(store_dir), self.golden)

    def cycle(self, traced: bool, record: bool = True) -> None:
        self._n = getattr(self, "_n", 0) + 1
        store_dir = self.path(f"store-{self._n}")
        store = GraphStore(self.spark, store_dir)
        r = self.run_op("build", lambda: self.pipeline(self.pages, store),
                        lambda res: self.check_commit(res, store_dir), traced)
        if r and record:
            wall, res = r
            self.main.append(wall)
            self.work.append(res["triples"] / wall)
            self.bytes_per_triple.append(store_bytes(store_dir)
                                         / res["triples"])
        if r:
            self.noops(self.pages, store, traced, record, self.ctx.noops)
        if self._n > 1:
            shutil.rmtree(self.path(f"store-{self._n - 1}"), ignore_errors=True)
        self.last_store = store_dir

    def layer_probe(self) -> None:
        """Traced queries and a PageRank on the last store: the layers a
        writing workload does not exercise itself, measured once."""
        mix = QueryMix(self, self.last_store,
                       random.Random(f"probe:{self.ctx.seed}"), per_class=1)
        mix.run_cycle(traced=True, record=False, pattern=oracle.CLASSES)


class QueryMix:
    """A fixed sequence of SPARQL classes over one store through the query
    CLI, then a PageRank top-20; parameters drawn from ``rng`` and
    answers from the DuckDB oracle."""

    # Class of each query slot of one cycle, and the slots after which a
    # PageRank top-20 runs.  Measured latency bands, fastest first:
    # regex; describe and topcited; twohop; closure.  Five of eight slots
    # fall in the middle band, so the median (4th and 5th of 8) lands
    # inside it rather than in a gap between bands.  A cycle takes 17-22 s
    # on a 4-core host, so with ``--seconds 20`` a run holds one.
    PATTERN = ("describe", "regex", "describe", "closure", "describe",
               "topcited", "describe", "twohop")
    RANK_AFTER = (4, 8)

    def __init__(self, wl: Workload, store_dir: str, rng: random.Random,
                 per_class: int):
        self.wl = wl
        self.store_dir = store_dir
        self.cli = load_query_cli(wl.ctx.root)
        con = oracle.current_view(store_dir)
        self.instances = {}
        qdir = store_dir + "-queries"
        os.makedirs(qdir, exist_ok=True)
        for cls in oracle.CLASSES:
            self.instances[cls] = []
            for i in range(per_class):
                params = oracle.draw_params(con, cls, rng)
                qfile = os.path.join(qdir, f"{cls}-{i}.rq")
                with open(qfile, "w") as f:
                    f.write(oracle.query_text(cls, params))
                self.instances[cls].append(
                    (qfile, oracle.expected_lines(con, cls, params)))
        self.rank_expected = oracle.pagerank_top20(con)
        con.close()
        self.used = dict.fromkeys(oracle.CLASSES, 0)

    def query(self, qfile: str) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.cli.run(self.wl.spark, [self.store_dir, qfile])
        return buf.getvalue()

    def rank_top20(self) -> list[tuple]:
        tracer = self.wl.tracer
        edges = GraphStore(self.wl.spark, self.store_dir).read_current("edge")
        cites = (edges.filter(F.col("pred") == "dcterms:references")
                 .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
        with tracer.span("rank.build"):
            ranks = pagerank(cites, iters=3)
        with tracer.span("rank.topk"):
            rows = ranked_topk(ranks, [("rank_micro", True), ("node", False)],
                               20).collect()
        return [(r["node"], r["rank_micro"])
                for r in sorted(rows, key=lambda r: r["rank"])]

    def run_cycle(self, traced: bool, record: bool = True,
                  pattern=PATTERN) -> None:
        """One pass over ``pattern``; each query of a class takes that
        class's next instance, so successive queries rotate through them."""
        wl = self.wl
        rank_after = self.RANK_AFTER if pattern == self.PATTERN else (len(pattern),)
        for slot, cls in enumerate(pattern, 1):
            inst = self.instances[cls]
            qfile, expected = inst[self.used[cls] % len(inst)]
            self.used[cls] += 1
            r = wl.run_op(f"query.{cls}", lambda: self.query(qfile),
                          lambda out: check_lines(out, expected), traced)
            if r and record:
                wl.main.append(r[0])
                wl.classes.append(cls)
            if slot in rank_after:
                self.rank(traced, record)

    def rank(self, traced: bool, record: bool) -> None:
        r = self.wl.run_op(
            "rank", self.rank_top20,
            lambda got: _expect(got == self.rank_expected,
                                "PageRank top-20 differs from the oracle"),
            traced)
        if r and record:
            self.wl.followup.append(r[0])


class Serve(Workload):
    """Read-only use of a store holding two snapshots per table (so
    retired page versions are present): a seeded SPARQL mix through the
    query CLI with a PageRank top-20 after every four queries."""

    name = "serve"

    def setup(self) -> None:
        c = self.ctx
        base, self.pages = self.path("base_pages"), self.path("recrawl_pages")
        pages = inputs.corpus(c.pages, c.seed)
        delta = inputs.recrawl_delta(c.pages, c.seed)
        inputs.write_pages(c.spark, pages, base, c.nproc)
        inputs.write_pages(c.spark, inputs.recrawled(pages, delta),
                           self.pages, c.nproc)
        self.store_dir = self.path("store")
        store = GraphStore(c.spark, self.store_dir)
        triples = sum(self.pipeline(p, store)["triples"]
                      for p in (base, self.pages))
        self.bytes_per_triple = [store_bytes(self.store_dir) / triples]
        self.classes: list[str] = []

    def prepare_checks(self) -> None:
        self.mix = QueryMix(self, self.store_dir,
                            random.Random(f"serve:{self.ctx.seed}"),
                            per_class=4)

    def warm_up(self) -> None:
        self.mix.run_cycle(traced=False, record=False, pattern=oracle.CLASSES)

    def cycle(self, traced: bool, record: bool = True) -> None:
        self.mix.run_cycle(traced, record)

    def work_per_s(self) -> float:
        """Queries answered per second of query wall (one client)."""
        return len(self.main) / sum(self.main) if self.main else 0.0

    def layer_probe(self) -> None:
        store = GraphStore(self.spark, self.path("probe_store"))
        r = self.run_op("build", lambda: self.pipeline(self.pages, store),
                        lambda res: _expect(not res["skipped"], "no commit"),
                        traced=True)
        if r:
            self.noops(self.pages, store, traced=True, record=False,
                       count=self.ctx.noops)


WORKLOADS = {w.name: w for w in (ColdBuild, Serve)}
