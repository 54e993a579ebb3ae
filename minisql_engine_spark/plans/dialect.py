"""SQL front door: reference-dialect shim over ``spark.sql``.

The reference parses a tiny SQL subset with a pyparsing grammar
(``sqlengine.py:12-74``, operator O3). Catalyst's ANSI parser strictly
supersedes it, so the engine's SQL front door is ``spark.sql`` plus
this ~50-line *textual* shim for the two non-ANSI forms the reference
accepts (SURVEY §7.1 front door 2):

* ``select distinct(C) from t``  →  ``select distinct C from t``
  (single-column form only; the multi-column zip form is
  non-relational — SURVEY Q8 — and raises a clear error);
* ``--`` line comments and a trailing ``;`` are stripped (the
  reference tolerates both, ``sqlengine.py:60-66``);
* everything else passes through verbatim — aggregates
  ``max/min/sum/avg(col)``, the word comparators, mixed case all
  already parse in Spark SQL (``avg`` alias ``average`` is rewritten).

No custom parser, no plan rewriting: Catalyst does binding
(unknown/ambiguous columns → AnalysisException, reference O4/O22),
optimization and execution.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_DISTINCT_CALL = re.compile(r"\bdistinct\s*\(\s*([A-Za-z_][\w.]*)\s*\)", re.I)
_AVERAGE_CALL = re.compile(r"\baverage\s*\(", re.I)


class DialectError(ValueError):
    """Raised for reference-dialect forms with no relational meaning."""


#: one token per match: a single-quoted literal (``''`` escapes a quote;
#: an unterminated literal runs to the end) or a ``--`` line comment
_LITERAL_OR_COMMENT = re.compile(r"'(?:[^']|'')*'?|--[^\n]*")


def _strip_comments(query: str) -> tuple[str, str]:
    """Remove ``--`` line comments, respecting single-quoted string
    literals (a ``--`` inside '...' is data, not a comment).

    Returns the stripped query and a mask of the same length in which
    every literal is blanked to NULs, so the dialect rewrites search
    the mask and never touch string data."""
    out: list[str] = []
    mask: list[str] = []
    pos = 0
    for m in _LITERAL_OR_COMMENT.finditer(query):
        code = query[pos : m.start()]
        tok = m.group()
        if tok[0] == "-":
            out += (code, " ")
            mask += (code, " ")
        else:
            out += (code, tok)
            mask += (code, "\0" * len(tok))
        pos = m.end()
    out.append(query[pos:])
    mask.append(query[pos:])
    return "".join(out), "".join(mask)


def _dialect_distinct_calls(q: str) -> list[re.Match]:
    """``distinct(col)`` occurrences in reference-dialect position —
    i.e. as a SELECT-list item (preceded by ``select`` or a comma),
    NOT nested inside another call like ``count(distinct(x))``, which
    is valid ANSI and must pass through untouched."""
    hits = []
    for m in _DISTINCT_CALL.finditer(q):
        before = q[: m.start()].rstrip()
        if before.lower().endswith("select") or before.endswith(","):
            hits.append(m)
    return hits


def rewrite_query(query: str) -> str:
    """Rewrite a reference-dialect query into ANSI Spark SQL."""
    q, mask = _strip_comments(query)
    # sqlengine.py:631 alias
    edits = [(m.start(), m.end(), "avg(") for m in _AVERAGE_CALL.finditer(mask)]

    matches = _dialect_distinct_calls(mask)
    if len(matches) > 1:
        # select distinct(a), distinct(b) — the reference zips
        # per-column distinct lists (sqlengine.py:662-678), which is
        # not a relation. Refuse loudly (SURVEY §7.4 policy).
        raise DialectError(
            "multi-column distinct(a), distinct(b) has no relational "
            "meaning; issue one DISTINCT query per column instead"
        )
    if matches:
        m = matches[0]
        edits.append((m.start(), m.end(), f"DISTINCT {m.group(1)}"))
        edits.sort()

    # the matches lie outside literals, where mask and q agree, so
    # their spans splice straight into q
    parts: list[str] = []
    pos = 0
    for start, stop, text in edits:
        parts += (q[pos:start], text)
        pos = stop
    parts.append(q[pos:])
    return "".join(parts).strip().rstrip(";").strip()


def run_sql(spark: SparkSession, query: str) -> DataFrame:
    """Execute a reference-dialect or ANSI SQL string."""
    return spark.sql(rewrite_query(query))
