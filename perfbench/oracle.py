"""Expected validation outputs, computed independently with DuckDB.

The suite's rules are restated here in SQL from their documented contracts
(rule ids, violation predicates and the verdict grid), so a change that
alters the engine's answers shows as a mismatch. Only the violation *keys*
``(partition, rule_id, doc_id)`` are checked, not the free-text
``detail``.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass

import duckdb

KINDS = ("text", "image", "audio", "table")
# functions/pii.py's categories; matching any of them is a violation
PII = [r"\b\d{4}(-\d{4}){3}\b", r"\b\d{3}-\d{2}-\d{4}\b",
       r"\b\d{3}-\d{3}-\d{4}\b", r"\b(\d{1,3}\.){3}\d{1,3}\b",
       r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"]
SUITE_RULES = ["not_null:doc_id", "non_empty:spans",
               "text_present_on_text_spans",
               "media_ref_present_on_media_spans", "span_kinds_accepted",
               "offsets_valid_native", "no_pii", "span_sequence_valid",
               "unique:doc_id", "referential:media_ref"]

_KIND_LIST = ", ".join(f"'{k}'" for k in KINDS)
_PII = "|".join(f"(?:{p})" for p in PII).replace("'", "''")
_NULL_OFF = "len(list_filter(offs, o -> o IS NULL)) > 0"
_BAD_OFFS = (f"({_NULL_OFF} OR len(list_filter(offs, o -> o < 0)) > 0 "
             "OR len(list_distinct(offs)) < len(offs))")
_VIOLATIONS = f"""
WITH d AS (
  SELECT doc_id, spans, partition,
         list_transform(spans, s -> s.offset) AS offs FROM docs
)
SELECT partition, 'not_null:doc_id' AS rule_id, doc_id FROM d
  WHERE doc_id IS NULL
UNION ALL SELECT partition, 'non_empty:spans', doc_id FROM d
  WHERE spans IS NULL OR len(spans) = 0
UNION ALL SELECT partition, 'text_present_on_text_spans', doc_id FROM d
  WHERE len(list_filter(spans, s -> s.kind = 'text' AND s.text IS NULL)) > 0
UNION ALL SELECT partition, 'media_ref_present_on_media_spans', doc_id FROM d
  WHERE len(list_filter(spans,
                        s -> s.kind <> 'text' AND s.media_ref IS NULL)) > 0
UNION ALL SELECT partition, 'span_kinds_accepted', doc_id FROM d
  WHERE len(list_filter(spans,
                        s -> s.kind IS NULL OR s.kind NOT IN ({_KIND_LIST}))) > 0
UNION ALL SELECT partition, 'offsets_valid_native', doc_id FROM d
  WHERE {_BAD_OFFS}
UNION ALL SELECT partition, 'no_pii', doc_id FROM d
  WHERE regexp_matches(coalesce(array_to_string(
          list_transform(spans, s -> s.text), ' '), ''), '{_PII}')
UNION ALL SELECT partition, 'span_sequence_valid', doc_id FROM d
  WHERE spans IS NULL OR {_BAD_OFFS}
UNION ALL SELECT DISTINCT partition, 'unique:doc_id', doc_id FROM d
  WHERE doc_id IN (SELECT doc_id FROM d WHERE doc_id IS NOT NULL
                   GROUP BY doc_id HAVING count(*) > 1)
UNION ALL SELECT partition, 'referential:media_ref', doc_id FROM (
    SELECT partition, doc_id, unnest(list_transform(spans, s -> s.media_ref)) AS r
    FROM d)
  WHERE r IS NOT NULL AND r NOT IN (SELECT media_ref FROM catalog)
  GROUP BY partition, doc_id
"""
_KIND_HIST = """
SELECT partition, k AS kind, count(*) AS n
FROM (SELECT partition, unnest(list_transform(spans, s -> s.kind)) AS k FROM docs)
GROUP BY partition, k
"""


def digest(keys: Counter) -> str:
    """Order-independent digest of a multiset of violation keys."""
    h = hashlib.sha256()
    for k in sorted(keys.elements(), key=repr):
        h.update(repr(k).encode())
    return h.hexdigest()[:16]


@dataclass
class Expected:
    keys: Counter        # (partition, rule_id, doc_id) -> multiplicity
    grid: dict           # (partition, rule_id) -> (violations, rows, pass)
    kinds: dict          # (partition, kind) -> span count
    n_docs: int

    @property
    def failing_pairs(self) -> int:
        return sum(1 for _, _, ok in self.grid.values() if not ok)


def expected(doc_dir: str, catalog_dir: str, threads: int) -> Expected:
    """Outputs the suite must produce over the documents in ``doc_dir``."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        con.execute("CREATE VIEW catalog AS SELECT * FROM "
                    f"'{catalog_dir}/*.parquet'")
        con.execute(f"CREATE VIEW docs AS SELECT * FROM '{doc_dir}/*.parquet'")
        keys = Counter(tuple(r) for r in con.execute(_VIOLATIONS).fetchall())
        rows = dict(con.execute(
            "SELECT partition, count(*) FROM docs GROUP BY 1").fetchall())
        kinds = {(p, k): n for p, k, n in con.execute(_KIND_HIST).fetchall()}
    finally:
        con.close()
    per_pair = Counter((p, r) for p, r, _ in keys.elements())
    grid = {(p, r): (per_pair[(p, r)], n, per_pair[(p, r)] == 0)
            for p, n in rows.items() for r in SUITE_RULES}
    return Expected(keys, grid, kinds, sum(rows.values()))
