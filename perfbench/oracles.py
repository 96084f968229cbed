"""Output checks that do not go through the code under test.

- DuckDB row/column/value-multiset comparison for the corpus queries (the
  same rule as ``tools/check_oracle.py``: floats rounded to 9 dp, other
  values stringified, order ignored);
- distinct canonical-key count of an SSSOM repository, in DuckDB;
- plain-Python union-find for component counts;
- the planted kg truth, a plain-Python count of the pages that mention
  each planted surface, and a digest of a fixed slice of generated pages.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import re
from collections import Counter

__all__ = [
    "KG_EXPECTED",
    "KG_SURFACES",
    "PAGES_CANARY",
    "frame_multiset",
    "QueryOracle",
    "count_distinct_keys",
    "count_components",
    "surface_doc_counts",
    "pages_digest",
]

#: Planted cross-namespace label pairs of ``seed_labels`` whose normalized
#: names collide (subject = later-sorted CURIE); the ethoxzolamide pair is
#: removed by the ``seed_xrefs`` fixture. Same truth as the pipeline tests.
KG_EXPECTED = frozenset(
    {
        ("mesh:D024502", "CHEBI:18145"),  # alpha tocopherol
        ("mesh:C002563", "CHEBI:28499"),  # xanthan gum
        ("mesh:C067604", "CHEBI:9921"),  # visnadin
    }
)

#: Normalized names of the ``seed_labels`` rows (lowercase, a hyphen read
#: as a space), restated so the evidence check does not call the program's
#: normalizer. ``(+) valencene`` is left out: no page holds its brackets.
KG_SURFACES = (
    "alpha tocopherol",
    "valencene",
    "glyoxime",
    "glyoxal dioxime",
    "tyramine sulfate",
    "tyramine o sulfate",
    "ethoxzolamide",
    "xanthan gum",
    "fluorothreonine",
    "visnadin",
    "aspirin",
)

#: sha256 over ``url \t text \t html`` of pages [0, 40) at 30 sentences, in
#: url order. A change to ``generate_pages`` changes the kg input; this
#: makes such a change fail the check instead of passing unnoticed.
PAGES_CANARY = {
    "n": 40,
    "n_sentences": 30,
    "sha256": "2c4e5a44c5f633db2555b4482f387b9785c3d8e6e9cee05a1c545b9bd078ad1c",
}


def _norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 9):.9f}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def frame_multiset(cols: list[str], rows: list[tuple]) -> Counter:
    """Order-insensitive multiset of normalized rows, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm_value(r[i]) for i in order) for r in rows)


class QueryOracle:
    """DuckDB views over the generated corpus tables plus the expected
    result of each query, computed once before the program runs."""

    def __init__(self, tables_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        self.expected: dict[str, tuple[list[str], Counter, int]] = {}

    def load(self, name: str, sql: str) -> None:
        rel = self.con.sql(sql)
        cols = list(rel.columns)
        rows = rel.fetchall()
        self.expected[name] = (sorted(cols), frame_multiset(cols, rows), len(rows))

    def close(self) -> None:
        """Drop the connection; the expectations stay."""
        self.con.close()

    def matches(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        ocols, omulti, on = self.expected[name]
        return sorted(cols) == ocols and len(rows) == on and frame_multiset(cols, rows) == omulti


def count_distinct_keys(paths: list[str], key_columns: list[str]) -> int:
    """Distinct canonical mapping keys over the union of SSSOM TSV files."""
    import duckdb

    def header_lines(path: str) -> int:
        n = 0
        with open(path, encoding="utf-8") as fh:
            while fh.readline().startswith("#"):
                n += 1
        return n

    con = duckdb.connect()
    try:
        union = " UNION ALL ".join(
            f"SELECT {', '.join(key_columns)} FROM read_csv('{p}', delim='\t', header=true, "
            f"skip={header_lines(p)}, all_varchar=true, nullstr='', quote='\"')"
            for p in paths
        )
        return int(con.execute(f"SELECT count(*) FROM (SELECT DISTINCT * FROM ({union}))").fetchone()[0])
    finally:
        con.close()


def count_components(edges) -> int:
    """Number of connected components over ``(a, b)`` pairs (union-find)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return sum(1 for x in parent if find(x) == x)


def surface_doc_counts(pages, surfaces=None) -> dict[str, int]:
    """Documents that mention each surface as whole words, over the English
    ``(lang, text)`` pages (the kg filter keeps English pages only).
    Surfaces found in no page are left out, as the evidence frame leaves
    them out."""
    surfaces = KG_SURFACES if surfaces is None else surfaces
    counts = Counter()
    for lang, text in pages:
        if lang != "en":
            continue
        padded = f" {re.sub(r'[^a-z0-9]+', ' ', text.lower())} "
        counts.update(s for s in surfaces if f" {s} " in padded)
    return dict(counts)


def pages_digest(rows) -> str:
    """sha256 of ``(url, text, html)`` rows in url order."""
    h = hashlib.sha256()
    for url, text, html in sorted(rows):
        h.update(f"{url}\t{text}\t".encode())
        h.update(bytes(html))
        h.update(b"\n")
    return h.hexdigest()
