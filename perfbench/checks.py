"""Output checks: store vs. generator oracle, cluster map vs. generated
components, and SPARQL answers vs. DuckDB over the same parquet files.

Every check reads the program's outputs from disk with pyarrow/DuckDB,
never through Spark, so a Spark-side bug cannot hide in its own check.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import pyarrow.dataset as ds

from gen import BNODE, RDF_TYPE, VOCAB

KNOWS = VOCAB + "knows"
_COLS = ["url", "subj", "pred", "obj", "obj_kind", "lang", "datatype", "graph"]


def _norm(v):
    return BNODE if isinstance(v, str) and v.startswith("_:") else v


def read_store(root: str) -> dict:
    """The store's rows as column lists (hive partitions graph/bucket)."""
    tdir = os.path.join(root, "triples")
    table = ds.dataset(tdir, format="parquet", partitioning="hive").to_table(
        columns=_COLS)
    return {c: table.column(c).to_pylist() for c in _COLS}


def check_store(root: str, expected: dict) -> dict:
    """Per-url triple multiset in the store == the oracle's.  Returns
    counts: urls checked, urls wrong, pages with a ``_:doc_error`` row."""
    cols = read_store(root)
    got: dict = defaultdict(Counter)
    errors = set()
    for url, s, p, o, k, lang, dt, g in zip(*(cols[c] for c in _COLS)):
        if s == "_:doc_error":
            errors.add(url)
            continue
        if g not in (None, "output"):
            continue
        got[url][(_norm(s), p, _norm(o), k, lang, dt)] += 1
    wrong = [u for u in set(expected) | set(got)
             if got.get(u, Counter()) != Counter(expected.get(u, ()))]
    return {"urls": len(expected), "wrong_urls": len(wrong),
            "error_pages": len(errors), "rows": len(cols["url"]),
            "example": sorted(wrong)[:3]}


def check_clusters(cmap: dict, components: dict) -> dict:
    """Cluster map (entity -> canonical) == the generated components."""
    wrong = [e for e in set(cmap) | set(components)
             if cmap.get(e) != components.get(e)]
    return {"entities": len(components), "wrong_entities": len(wrong),
            "example": sorted(wrong)[:3]}


# --- SPARQL vs DuckDB ----------------------------------------------------

# one SQL per query template; ``$1`` is the template's constant
ORACLE_SQL = {
    "lookup": "SELECT DISTINCT pred, obj FROM t WHERE subj = $1",
    "join_star": ("SELECT DISTINCT a.obj, b.obj FROM t a, t b WHERE "
                  "a.subj = $1 AND a.pred = '%s' AND b.subj = $1 "
                  "AND b.pred = '%s'" % (RDF_TYPE, KNOWS)),
    "join_chain": ("SELECT DISTINCT a.obj, b.obj FROM t a JOIN t b "
                   "ON b.subj = a.obj WHERE a.subj = $1 AND a.pred = '%s' "
                   "AND b.pred = '%s'" % (KNOWS, RDF_TYPE)),
    "reverse": ("SELECT DISTINCT subj FROM t WHERE pred = '%s' "
                "AND obj = $1" % KNOWS),
    "path": ("SELECT DISTINCT b.obj FROM t a JOIN t b ON b.subj = a.obj "
             "WHERE a.subj = $1 AND a.pred = '%s' AND b.pred = '%s'"
             % (KNOWS, KNOWS)),
    "agg": ("SELECT obj, COUNT(DISTINCT subj) FROM t WHERE pred = '%s' "
            "GROUP BY obj" % RDF_TYPE),
}


def _norm_rows(rows) -> set:
    return {tuple(r) for r in rows}


def check_answers(ops: list) -> dict:
    """``ops``: dicts with template, const, files (the store snapshot the
    Spark query listed) and rows.  Each answer is recomputed by DuckDB
    over exactly those files; returns {op index: reason} for the wrong
    ones."""
    import duckdb

    con = duckdb.connect()
    wrong = {}
    by_files: dict = defaultdict(list)
    for i, op in enumerate(ops):
        by_files[tuple(sorted(op["files"]))].append(i)
    for files, idxs in by_files.items():
        con.execute("DROP VIEW IF EXISTS t")
        paths = ", ".join("'%s'" % f.replace("'", "''") for f in files)
        con.execute("CREATE VIEW t AS SELECT * FROM read_parquet([%s], "
                    "hive_partitioning = true)" % paths)
        for i in idxs:
            op = ops[i]
            sql = ORACLE_SQL[op["template"]]
            params = [op["const"]] if "$1" in sql else []
            want = _norm_rows(con.execute(sql, params).fetchall())
            if _norm_rows(op["rows"]) != want:
                wrong[i] = "%s %s: got %d rows, want %d" % (
                    op["template"], op["const"], len(op["rows"]), len(want))
    con.close()
    return wrong
