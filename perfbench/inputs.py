"""Seeded inputs for the benchmark, built with the package's own fixture
generator (``ferenda_spark.fixtures.pages``).

The program only ever sees generated pages: a base corpus written as
parquet, a re-crawl of it (some pages changed in place, some added) and
the SPARQL query parameters drawn from the committed graph.  The same
``seed`` always yields the same bytes.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

from ferenda_spark.fixtures import pages as fx

# Share of base pages a re-crawl rewrites (same url, new bytes, later
# warc_ts) and share of pages it adds.
CHANGED_SHARE = 0.1
ADDED_SHARE = 0.02


def corpus(n_pages: int, seed: int) -> pd.DataFrame:
    """The base corpus, pages 1..n_pages of the fixture generator."""
    return pd.DataFrame([_page_row(fx.gen_doc(n, n_pages, seed), seed,
                                   _crawl_ts(n))
                         for n in range(1, n_pages + 1)])


def write_pages(spark, pages: pd.DataFrame, path: str, files: int) -> None:
    """Write pages as ``files`` parquet files.  With one file it holds
    one row group: the layout of every table under the repository's
    testdata directory."""
    (spark.createDataFrame(pages, schema=fx.PAGES_SCHEMA)
     .repartition(files)
     .write.option("parquet.block.size", str(1 << 30))
     .parquet(path))


def _crawl_ts(n: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=137 * n)


def _page_row(doc: dict, seed: int, warc_ts: dt.datetime) -> dict:
    return {"url": doc["url"], "warc_ts": warc_ts,
            "html": fx.render_html(doc, seed),
            "text": fx.render_text(doc, seed), "lang": doc["lang"]}


def recrawl_delta(n_pages: int, seed: int) -> pd.DataFrame:
    """Pages a re-crawl of the ``n_pages`` base corpus brings back.

    Changed pages keep their url but are regenerated under another
    generator seed (so their triples differ) and carry a later
    ``warc_ts``; added pages continue the id sequence.  Only documents
    whose url survives the regeneration are picked for change.
    """
    rng = random.Random(f"recrawl:{seed}")
    alt = seed + 1_000_003
    want = max(1, round(n_pages * CHANGED_SHARE))
    rows, picked = [], set()
    for n in rng.sample(range(1, n_pages + 1), n_pages):
        if len(picked) == want:
            break
        old, new = fx.gen_doc(n, n_pages, seed), fx.gen_doc(n, n_pages, alt)
        if new["url"] == old["url"] and new["golden"] != old["golden"]:
            picked.add(n)
            rows.append(_page_row(new, alt, _crawl_ts(n)
                                  + dt.timedelta(days=30)))
    for n in range(n_pages + 1, n_pages + 1 + max(1, round(n_pages * ADDED_SHARE))):
        rows.append(_page_row(fx.gen_doc(n, n_pages, seed), seed,
                              _crawl_ts(n)))
    return pd.DataFrame(rows)


def recrawled(base: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
    """The full re-crawled corpus: base minus rewritten urls, plus the
    delta."""
    return pd.concat([base[~base["url"].isin(delta["url"])], delta],
                     ignore_index=True)


def golden_triples(n_pages: int, seed: int) -> set[tuple]:
    """The generator's ground-truth triples for the base corpus."""
    out = set()
    for n in range(1, n_pages + 1):
        for t in fx.gen_doc(n, n_pages, seed)["golden"]:
            out.add(tuple(t))
    return out
