"""Output checks, run on every timed job's committed tables.

Expected results come from the repo's own oracles: ``synthdata.doc_text``
for document text, and
``__spark_entry__.oracle_sql()`` evaluated by DuckDB over the generated
documents for every relational output. Committed parquet tables are read
back with DuckDB and compared as multisets (EXCEPT ALL both ways), with the
same exact value equality the repo's correctness gate uses.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import __spark_entry__ as entry


class Oracle:
    """A DuckDB connection holding the expected tables of one input."""

    def __init__(self, documents: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("documents_df", documents)
        self.con.execute("CREATE TABLE documents AS SELECT * FROM documents_df")
        self.con.unregister("documents_df")
        self._sql = entry.oracle_sql()

    def expect(self, name: str) -> str:
        """Materialize oracle query ``name`` as table exp_<name>."""
        self.con.execute(f"CREATE OR REPLACE TABLE exp_{name} AS {self._sql[name]}")
        return f"exp_{name}"

    def columns(self, table: str) -> list[str]:
        return [r[0] for r in self.con.execute(f"DESCRIBE {table}").fetchall()]


def table_sql(root: str, table: str) -> str:
    return f"read_parquet('{os.path.join(root, table, '*.parquet')}')"


def multiset_diff(con, actual: str, expected: str, cols: list[str],
                  where: str = "TRUE") -> int:
    """Rows in one side but not the other (multiset), over ``cols``."""
    c = ", ".join(cols)
    return con.execute(f"""
        SELECT count(*) FROM (
          (SELECT {c} FROM {actual} WHERE {where}
           EXCEPT ALL SELECT {c} FROM {expected} WHERE {where})
          UNION ALL
          (SELECT {c} FROM {expected} WHERE {where}
           EXCEPT ALL SELECT {c} FROM {actual} WHERE {where}))""").fetchone()[0]


def check_doc_text(con, root: str, expected: dict[str, str]) -> list[str]:
    got = dict(con.execute(
        f"SELECT url, doc_text FROM {table_sql(root, 'doc_text')}").fetchall())
    problems = []
    if set(got) != set(expected):
        problems.append(f"doc_text urls: {len(set(got) ^ set(expected))} differ")
    bad = [u for u in expected if u in got and got[u] != expected[u]]
    if bad:
        problems.append(f"doc_text: {len(bad)} urls not byte-equal, e.g. {bad[0]}")
    return problems


def check_extraction(oracle: Oracle, root: str, expected_text: dict,
                     expected_pages: dict, expected_quarantine: set,
                     oracle_urls: set) -> list[str]:
    """The committed tables of one run_job: doc_text byte-equal; doc_stats
    and extracted_items equal to the oracle for the clean documents; every
    document's rendered page count; every planted fault quarantined exactly
    once with its stage label and nothing else quarantined."""
    con = oracle.con
    problems = check_doc_text(con, root, expected_text)

    pages = dict(con.execute(
        f"SELECT url, total_pages FROM {table_sql(root, 'doc_stats')}").fetchall())
    if pages != expected_pages:
        problems.append("doc_stats.total_pages differs from the rendered pages")

    q = con.execute(f"SELECT url, page_no, stage, error IS NULL "
                    f"FROM {table_sql(root, 'quarantine')}").fetchall()
    got_q = [(u, p, s) for u, p, s, _ in q]
    if sorted(got_q) != sorted(expected_quarantine) or any(r[3] for r in q):
        problems.append(f"quarantine rows {sorted(got_q)} != planted "
                        f"{sorted(expected_quarantine)}")

    for t in ("doc_text", "extracted_items", "doc_stats"):
        n = con.execute(
            f"SELECT count(*) FROM {table_sql(root, t + '__lineage')}").fetchone()[0]
        if n == 0:
            problems.append(f"{t}: no lineage rows")

    urls = ", ".join(f"'{u}'" for u in sorted(oracle_urls))
    for table, exp in (("extracted_items", "exp_caption_match"),
                       ("doc_stats", "exp_doc_stats")):
        diff = multiset_diff(con, table_sql(root, table), exp, oracle.columns(exp),
                             f"url IN ({urls})")
        if diff:
            problems.append(f"{table}: {diff} rows differ from oracle")
    return problems


def check_tables(oracle: Oracle, root: str, pairs: dict[str, str]) -> list[str]:
    """Committed table == oracle table, for each (committed, oracle) pair."""
    problems = []
    for table, exp in pairs.items():
        diff = multiset_diff(oracle.con, table_sql(root, table), exp,
                             oracle.columns(exp))
        if diff:
            problems.append(f"{table}: {diff} rows differ from oracle")
    return problems


def check_minhash(oracle: Oracle, root: str) -> list[str]:
    """LSH pairs are exact-Jaccard verified, so every one must be a
    jaccard_pairs row at >= 0.5 with the same value; every exact-Jaccard
    pair at 1 (equal shingle sets, hence equal signatures) must be found."""
    con = oracle.con
    mh = table_sql(root, "minhash_pairs")
    extra = con.execute(f"""
        SELECT count(*) FROM (SELECT id_a, id_b, jaccard FROM {mh}
          EXCEPT ALL SELECT id_a, id_b, jaccard FROM exp_dedup_jaccard
          WHERE jaccard >= 0.5)""").fetchone()[0]
    missing = con.execute(f"""
        SELECT count(*) FROM (SELECT id_a, id_b FROM exp_dedup_jaccard
          WHERE jaccard = 1 EXCEPT SELECT id_a, id_b FROM {mh})""").fetchone()[0]
    problems = []
    if extra:
        problems.append(f"minhash_pairs: {extra} rows not exact-Jaccard pairs")
    if missing:
        problems.append(f"minhash_pairs: {missing} exact copies missed")
    return problems
