"""Correctness checks, run outside the timed phase.

They read the published parquet tables straight from the warehouse
with DuckDB — no Spark — and compare them with an independent DuckDB
evaluation of the extraction rules over the generated inputs.

- `hdt_invariants`: the HDTVerify invariants of scripts/verify_tables.py
  (duplicate-free, strictly sorted dictionary sections; dense ID
  spaces; SH ids used on both sides; unique, resolvable SPO triples;
  OPS holding the same triple set) plus the physical SPO/OPS order.
- `expected_documents` / `expected_pages`: the triple set the
  extraction rules (qendpoint_spark/extraction/triples.py docstring)
  define over the inputs, written again in SQL.
- `published_triples`: the published SPO decoded through dict_terms.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from inputs import BASE

XSD = "http://www.w3.org/2001/XMLSchema#"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=2")
    return con


def _files(table_dir: str) -> list[str]:
    return sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(table_dir)
        for f in fs
        if f.endswith(".parquet")
    )


def load_tables(con, warehouse: str) -> None:
    """Views dict_terms / spo / ops over the published tables."""
    con.execute(
        "CREATE OR REPLACE VIEW dict_terms AS SELECT term, section, sec_rank, id "
        f"FROM read_parquet('{warehouse}/dict_terms/**/*.parquet', hive_partitioning=true)"
    )
    for name, table in (("spo", "triples_spo"), ("ops", "triples_ops")):
        files = ", ".join(f"'{f}'" for f in _files(f"{warehouse}/{table}"))
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT s, p, o FROM read_parquet([{files}])")


def _physically_sorted(warehouse: str, table: str, cols: list[str]) -> bool:
    """Rows in file-name order are strictly increasing on `cols`."""
    frames = [pq.read_table(f, columns=cols).to_pandas() for f in _files(f"{warehouse}/{table}")]
    df = pd.concat(frames, ignore_index=True)
    if len(df) < 2:
        return True
    prev, cur = df.iloc[:-1].reset_index(drop=True), df.iloc[1:].reset_index(drop=True)
    less = pd.Series(False, index=prev.index)
    equal = pd.Series(True, index=prev.index)
    for c in cols:
        less |= equal & (prev[c] < cur[c])
        equal &= prev[c] == cur[c]
    return bool(less.all())


def hdt_invariants(con, warehouse: str) -> list[str]:
    """Names of the violated invariants (empty when all hold)."""
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    checks = {
        "sections duplicate-free": q(
            "SELECT count(*) = (SELECT count(*) FROM (SELECT DISTINCT section, term FROM dict_terms)) FROM dict_terms"
        ),
        "sections strictly sorted": q(
            "SELECT count(*) = 0 FROM (SELECT term, lag(term) OVER (PARTITION BY section ORDER BY sec_rank) AS prev "
            "FROM dict_terms) WHERE prev >= term"
        ),
        "spo unique": q("SELECT count(*) = (SELECT count(*) FROM (SELECT DISTINCT * FROM spo)) FROM spo"),
        "subjects correlative 1..n": q("SELECT count(DISTINCT s) = max(s) FROM spo"),
        "ops row set == spo row set": q(
            "SELECT (SELECT count(*) FROM spo) = (SELECT count(*) FROM ops) AND "
            "(SELECT count(*) FROM (SELECT * FROM spo EXCEPT ALL SELECT * FROM ops)) = 0"
        ),
        "every SH id occurs as subject and object": q(
            "SELECT count(*) = 0 FROM dict_terms WHERE section = 'SH' AND "
            "(id NOT IN (SELECT s FROM spo) OR id NOT IN (SELECT o FROM spo))"
        ),
    }
    for label, sections in (("subject", "'SH','S'"), ("object", "'SH','O'"), ("predicate", "'P'")):
        checks[f"{label} ids dense 1..n"] = q(
            "SELECT count(*) = 0 OR (min(id) = 1 AND max(id) = count(*) AND count(DISTINCT id) = count(*)) "
            f"FROM dict_terms WHERE section IN ({sections})"
        )
    for col, sections in (("s", "'SH','S'"), ("p", "'P'"), ("o", "'SH','O'")):
        checks[f"all {col} ids resolvable"] = q(
            f"SELECT count(*) = 0 FROM spo WHERE {col} NOT IN "
            f"(SELECT id FROM dict_terms WHERE section IN ({sections}))"
        )
    checks["spo physically sorted"] = _physically_sorted(warehouse, "triples_spo", ["s", "p", "o"])
    checks["ops physically sorted"] = _physically_sorted(warehouse, "triples_ops", ["o", "p", "s"])
    return [name for name, ok in checks.items() if not ok]


def published_triples(con) -> str:
    """Create table `published(s, p, o)`: SPO decoded to lexical terms."""
    con.execute(
        "CREATE OR REPLACE TABLE published AS "
        "SELECT ds.term AS s, dp.term AS p, dobj.term AS o FROM spo "
        "JOIN dict_terms ds ON ds.id = spo.s AND ds.section IN ('SH','S') "
        "JOIN dict_terms dp ON dp.id = spo.p AND dp.section = 'P' "
        "JOIN dict_terms dobj ON dobj.id = spo.o AND dobj.section IN ('SH','O')"
    )
    return "published"


def _mention_sql(keyed: str) -> str:
    """keyed(doc, text) -> mentions + label triples (distinct tokens of
    at least four characters, split on single spaces)."""
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc, tok FROM (
                SELECT doc, unnest(string_split(coalesce(text, ''), ' ')) AS tok FROM {keyed})
            WHERE length(tok) >= 4)
        SELECT doc AS s, '{BASE}prop/mentions' AS p, '{BASE}ent/' || tok AS o FROM toks
        UNION ALL
        SELECT DISTINCT '{BASE}ent/' || tok, '{BASE}prop/label', '"' || tok || '"' FROM toks
    """


def expected_documents(con, docs: pd.DataFrame, canon: dict[str, str]) -> tuple[str, int, int]:
    """Create table `expected(s, p, o)` for the documents pipeline with
    sameAs canonicalization. Returns (table, mention triples before
    canonicalization, extracted triples whose s or o is rewritten)."""
    con.register("docs_in", docs)
    con.register("canon_in", pd.DataFrame({"node": list(canon), "comp": list(canon.values())}))
    doc = f"'{BASE}doc/' || doc_id"
    bnode = "'_:b' || doc_id"
    meta = [
        (doc, "lang", "'\"' || lang || '\"@' || lang"),
        (doc, "source", "'\"' || source || '\"'"),
        (doc, "nchars", f"'\"' || n_chars || '\"^^<{XSD}integer>'"),
        (doc, "crawldate", f"'\"2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' || "
                           f"lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '\"^^<{XSD}date>'"),
        (doc, "density", f"'\"' || (n_chars // 100) || '.' || lpad(CAST(n_chars % 100 AS VARCHAR), 2, '0') "
                         f"|| '\"^^<{XSD}decimal>'"),
        (doc, "flag", f"'\"' || CASE WHEN n_chars % 2 = 0 THEN 'true' ELSE 'false' END || '\"^^<{XSD}boolean>'"),
        (doc, "provenance", bnode),
        (bnode, "fromSource", "'\"' || source || '\"'"),
    ]
    meta_sql = " UNION ALL ".join(
        f"SELECT {s} AS s, '{BASE}prop/{p}' AS p, {o} AS o FROM docs_in" for s, p, o in meta
    )
    con.execute(
        "CREATE OR REPLACE TEMP VIEW docs_keyed AS "
        f"SELECT {doc} AS doc, text FROM docs_in"
    )
    con.execute(f"CREATE OR REPLACE TABLE extracted AS {meta_sql} UNION ALL SELECT * FROM ({_mention_sql('docs_keyed')})")
    con.execute(
        "CREATE OR REPLACE TABLE expected AS SELECT DISTINCT coalesce(cs.comp, e.s) AS s, e.p, "
        "coalesce(co.comp, e.o) AS o FROM extracted e "
        "LEFT JOIN canon_in cs ON cs.node = e.s LEFT JOIN canon_in co ON co.node = e.o"
    )
    mentions = con.execute(f"SELECT count(*) FROM extracted WHERE p = '{BASE}prop/mentions'").fetchone()[0]
    rewrites = con.execute(
        "SELECT count(*) FROM extracted e WHERE "
        "e.s IN (SELECT node FROM canon_in WHERE node <> comp) OR "
        "e.o IN (SELECT node FROM canon_in WHERE node <> comp)"
    ).fetchone()[0]
    return "expected", int(mentions), int(rewrites)


def expected_pages(con, pages: pd.DataFrame) -> str:
    """Create table `expected(s, p, o)` for the pages pipeline: the
    latest crawl of each url gives a lang triple and its mentions."""
    con.register("pages_in", pages[["url", "warc_ts", "text", "lang"]])
    con.execute(
        "CREATE OR REPLACE TEMP VIEW pages_latest AS SELECT url AS doc, "
        "arg_max(text, warc_ts) AS text, arg_max(lang, warc_ts) AS lang FROM pages_in GROUP BY url"
    )
    con.execute(
        "CREATE OR REPLACE TABLE expected AS "
        f"SELECT doc AS s, '{BASE}prop/lang' AS p, '\"' || lang || '\"@' || lang AS o FROM pages_latest "
        f"UNION ALL SELECT * FROM ({_mention_sql('pages_latest')})"
    )
    return "expected"


def set_difference(con, a: str, b: str) -> tuple[int, int]:
    """(|a \\ b|, |b \\ a|) over (s, p, o) rows."""
    q = lambda x, y: con.execute(  # noqa: E731
        f"SELECT count(*) FROM (SELECT s, p, o FROM {x} EXCEPT SELECT s, p, o FROM {y})"
    ).fetchone()[0]
    return int(q(a, b)), int(q(b, a))
