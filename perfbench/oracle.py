"""Independent answers the benchmark checks the program against.

Everything here reads the store's parquet files with DuckDB and never
calls the package: the committed current edge view is re-derived from
the snapshot manifests, and each SPARQL class and the PageRank top-20
are restated as plain SQL.
"""

from __future__ import annotations

import json
import os
import random

import duckdb

# Query classes of the serve workload, in the order their templates
# appear below.
CLASSES = ("describe", "twohop", "closure", "topcited", "regex")

DOC = "https://example.org/res/rfc/"

_TEMPLATES = {
    "describe": "DESCRIBE <{doc}>\n",
    "twohop": ("SELECT DISTINCT ?t ?u WHERE {{\n"
               "  ?f dcterms:isPartOf <{doc}> .\n"
               "  ?f dcterms:references ?t .\n"
               "  ?g dcterms:isPartOf ?t .\n"
               "  ?g dcterms:references ?u .\n}}\n"),
    "closure": ("SELECT DISTINCT ?s WHERE {{\n"
                "  ?s dcterms:isPartOf+ <{doc}> .\n}}\n"),
    "topcited": ("SELECT ?t ?n ?title WHERE {{\n"
                 "  {{ SELECT ?t (COUNT(?s) AS ?n) WHERE {{\n"
                 "      ?s dcterms:references ?t .\n"
                 "    }} GROUP BY ?t ORDER BY DESC(?n) ?t LIMIT {k} }}\n"
                 "  ?t dcterms:title ?title .\n}}\n"),
    "regex": ("SELECT ?s ?t WHERE {{\n"
              "  ?s dcterms:title ?t .\n"
              "  FILTER regex(str(?t), \"{word}\", \"i\")\n}}\n"),
}

_SQL = {
    "describe": """
        SELECT DISTINCT subj, pred, obj, obj_is_literal, obj_datatype, obj_lang
        FROM cur WHERE subj = $doc""",
    "twohop": """
        SELECT DISTINCT r1.obj, r2.obj
        FROM cur p1
        JOIN cur r1 ON r1.subj = p1.subj AND r1.pred = 'dcterms:references'
        JOIN cur p2 ON p2.obj = r1.obj AND p2.pred = 'dcterms:isPartOf'
        JOIN cur r2 ON r2.subj = p2.subj AND r2.pred = 'dcterms:references'
        WHERE p1.pred = 'dcterms:isPartOf' AND p1.obj = $doc""",
    "closure": """
        WITH RECURSIVE parts(s) AS (
          SELECT subj FROM cur
          WHERE pred = 'dcterms:isPartOf' AND obj = $doc
          UNION
          SELECT c.subj FROM cur c JOIN parts ON c.obj = parts.s
          WHERE c.pred = 'dcterms:isPartOf')
        SELECT DISTINCT s FROM parts""",
    "topcited": """
        WITH top AS (
          SELECT obj AS t, count(subj) AS n FROM cur
          WHERE pred = 'dcterms:references'
          GROUP BY obj ORDER BY n DESC, t LIMIT $k)
        SELECT top.t, top.n, c.obj FROM top
        JOIN cur c ON c.subj = top.t AND c.pred = 'dcterms:title'""",
    "regex": """
        SELECT subj, obj FROM cur
        WHERE pred = 'dcterms:title' AND regexp_matches(obj, $word, 'i')""",
}

# Integer PageRank with the arithmetic of the kg_pagerank gate: BIGINT
# floor division throughout, 10^12 fixed point, damping 85/100 and the
# mass of nodes without out-edges spread over all nodes each iteration.
_PAGERANK = """
WITH
cites AS (SELECT subj AS src, obj AS dst FROM cur
          WHERE pred = 'dcterms:references'),
nodes AS (SELECT src AS node FROM cites UNION SELECT dst FROM cites),
nn AS (SELECT count(*) AS n FROM nodes),
outd AS (SELECT src, count(*) AS outdeg FROM cites GROUP BY src),
it0 AS (SELECT node, CAST((SELECT 1000000000000 // n FROM nn) AS BIGINT)
               AS r FROM nodes),
{iters}
SELECT node, CAST(r // 1000000 AS BIGINT) AS rank_micro FROM it{last}
ORDER BY rank_micro DESC, node LIMIT 20
"""
_PAGERANK_ITER = """
it{i} AS (
  SELECT nd.node,
         CAST((SELECT 15 * (1000000000000 // n) // 100 FROM nn)
              + (85 * (COALESCE(s.inc, 0)
                       + (SELECT COALESCE(sum(p.r), 0) FROM it{prev} p
                          WHERE p.node NOT IN (SELECT src FROM cites))
                         // (SELECT n FROM nn))) // 100 AS BIGINT) AS r
  FROM nodes nd LEFT JOIN (
    SELECT c.dst AS node, CAST(sum(p.r // o.outdeg) AS BIGINT) AS inc
    FROM cites c JOIN it{prev} p ON c.src = p.node
                 JOIN outd o ON c.src = o.src
    GROUP BY c.dst) s ON s.node = nd.node)"""

# Title words the regex class filters on (from the fixture's vocabulary).
_WORDS = ("protocol", "stream", "routing", "security", "header",
          "gateway", "transfer", "overview", "processing", "error")


def _snapshot_glob(store_dir: str, table: str) -> list[str]:
    with open(os.path.join(store_dir, table, "_snapshots.json")) as f:
        return [os.path.join(s["path"], "*.parquet") for s in json.load(f)]


def current_view(store_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection holding ``cur``: the committed current edge
    view of a GraphStore, re-derived from its files.

    An edge row is current when its (src_url, src_hash) is the latest
    successful ``materialize`` provenance record of its url, by
    (attempt_ts, input_hash); rows are then made distinct.
    """
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    edges = _snapshot_glob(store_dir, "edge")
    prov = _snapshot_glob(store_dir, "provenance")
    con.execute(f"""
        CREATE TABLE cur AS
        WITH latest AS (
          SELECT url, input_hash FROM (
            SELECT url, input_hash, row_number() OVER (
                     PARTITION BY url ORDER BY attempt_ts DESC,
                     input_hash DESC) AS rn
            FROM read_parquet({prov!r})
            WHERE stage = 'materialize' AND success)
          WHERE rn = 1)
        SELECT DISTINCT e.subj, e.pred, e.obj, e.obj_is_literal,
               e.obj_datatype, e.obj_lang
        FROM read_parquet({edges!r}, union_by_name = true) e
        JOIN latest l ON l.url = e.src_url AND l.input_hash = e.src_hash""")
    return con


def render_describe(rows) -> list[str]:
    """Rows of the triple schema as the query CLI prints them."""
    out = []
    for s, p, o, lit, _dt, _lang in rows:
        obj = f'"{o}"' if lit else f"<{o}>"
        out.append(f"TRIPLE <{s}> <{p}> {obj} .")
    return sorted(out)


def _render_rows(rows) -> list[str]:
    return sorted("ROW\t" + "\t".join("" if v is None else str(v)
                                      for v in r) for r in rows)


def expected_lines(con, cls: str, params: dict) -> list[str]:
    """The sorted TRIPLE/ROW lines the query CLI must print."""
    rows = con.execute(_SQL[cls], params).fetchall()
    return render_describe(rows) if cls == "describe" else _render_rows(rows)


def query_text(cls: str, params: dict) -> str:
    return _TEMPLATES[cls].format(**params)


def draw_params(con, cls: str, rng: random.Random) -> dict:
    """Seeded parameters for one query of ``cls``; a two-hop start is
    redrawn (up to 200 times) until its answer is non-empty."""
    if cls == "topcited":
        return {"k": rng.randint(5, 15)}
    if cls == "regex":
        return {"word": rng.choice(_WORDS)}
    col = "subj" if cls == "describe" else "obj"
    pred = "dcterms:title" if cls == "describe" else "dcterms:isPartOf"
    docs = [r[0] for r in con.execute(
        f"SELECT DISTINCT {col} FROM cur WHERE pred = $p AND {col} LIKE $d "
        f"AND {col} NOT LIKE '%#%' ORDER BY {col}",
        {"p": pred, "d": DOC + "%"}).fetchall()]
    for _ in range(200):
        params = {"doc": rng.choice(docs)}
        if cls != "twohop" or expected_lines(con, cls, params):
            break
    return params


def pagerank_top20(con, iters: int = 3) -> list[tuple]:
    """(node, rank_micro) of the top 20, best first."""
    body = ",\n".join(_PAGERANK_ITER.format(i=i, prev=i - 1)
                      for i in range(1, iters + 1))
    return con.execute(_PAGERANK.format(iters=body, last=iters)).fetchall()
