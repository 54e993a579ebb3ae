"""Correctness checks, run on every measured operation after the timed
phase. Each returns a list of problems; an empty list means the output
is right. None compares against a stored copy of an earlier output:
expected values come from DuckDB running the same ANSI text over the
same files, from ground truth the generator planted, or from
properties the method must have.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from collections import Counter
from decimal import Decimal

# --------------------------------------------------------------------------
# SQL results
# --------------------------------------------------------------------------


def _norm_value(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.date() if v.time() == dt.time() else v
    return v


def _sort_key(row):
    return tuple((v is None, "" if v is None else v) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_match(got: list, want: list) -> list[str]:
    """Row multisets equal; floats compared to 1e-9 relative."""
    g = sorted((tuple(_norm_value(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm_value(v) for v in r) for r in want), key=_sort_key)
    if len(g) != len(w):
        return [f"{len(g)} rows, expected {len(w)}"]
    for i, (a, b) in enumerate(zip(g, w)):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return [f"row {i} after sorting is {a!r}, expected {b!r}"]
    return []


_SELECT = re.compile(r"^\s*select\s+(.*?)\s+from\s+(.*?)(\s+where\s+.*)?$", re.I | re.S)
_CALL = re.compile(r"^(\w+)\s*\(\s*([\w.]+)\s*\)$")


def _strip_dialect(query: str) -> str:
    return re.sub(r"--[^\n]*", " ", query).strip().rstrip(";").strip()


def expected_headers(query: str, schema: dict[str, list[str]]) -> list[str]:
    """The reference's ``table.col`` headers for a reference-dialect
    query, derived from its text: ``*`` expands every FROM table's
    columns in order, a bare column takes the one FROM table that has
    it, ``f(col)`` becomes ``f(table.col)`` (``average`` is ``avg``),
    and ``distinct(col)`` is the column itself."""
    m = _SELECT.match(_strip_dialect(query))
    if not m:
        raise ValueError(f"unsupported query shape: {query!r}")
    tables = [t.strip().lower() for t in m.group(2).split(",")]

    def qualify(col: str) -> str:
        if "." in col:
            return col
        owners = [t for t in tables if col.lower() in (c.lower() for c in schema[t])]
        if len(owners) != 1:
            raise ValueError(f"column {col!r} is not owned by one of {tables}")
        return f"{owners[0]}.{col}"

    out: list[str] = []
    for item in (i.strip() for i in m.group(1).split(",")):
        call = _CALL.match(item)
        if item == "*":
            out += [f"{t}.{c}" for t in tables for c in schema[t]]
        elif call and call.group(1).lower() == "distinct":
            out.append(qualify(call.group(2)))
        elif call:
            fn = call.group(1).lower()
            out.append(f"{'avg' if fn == 'average' else fn}({qualify(call.group(2))})")
        else:
            out.append(qualify(item))
    return out


def sql_output_problems(
    query: str, schema: dict, headers: list[str], rows: list, grid: str,
    want_rows: list,
) -> list[str]:
    """One CLI-path result: rows equal DuckDB's, headers equal the ones
    derived from the query text, and the grid renders exactly them."""
    problems = rows_match(rows, want_rows)
    want_h = expected_headers(query, schema)
    if headers != want_h:
        problems.append(f"headers {headers} != {want_h}")
    return problems + ascii_grid_problems(grid, headers, rows)


def _cell(v) -> str:
    return "NULL" if v is None else str(v)


def ascii_grid_problems(text: str, headers: list[str], rows: list) -> list[str]:
    """The rendered grid holds exactly the header row and the data rows,
    cell for cell, between ``+---+`` separators."""
    if not rows:
        return [] if text == "" else ["non-empty grid for an empty result"]
    lines = text.split("\n")
    if len(lines) != len(rows) + 4:
        return [f"grid has {len(lines)} lines for {len(rows)} rows"]
    if not (lines[0] == lines[2] == lines[-1] and set(lines[0]) <= {"+", "-"}):
        return ["grid separators are malformed"]
    body = [lines[1]] + lines[3:-1]
    want = [headers] + [[_cell(v) for v in r] for r in rows]
    for i, (line, cells) in enumerate(zip(body, want)):
        got = [c.strip() for c in line.strip().strip("|").split(" | ")]
        if got != cells:
            return [f"grid line {i} holds {got!r}, expected {cells!r}"]
    return []


# --------------------------------------------------------------------------
# curation
# --------------------------------------------------------------------------


def minhash_problems(
    pairs: list[tuple], exact_pairs: list, family: dict[str, int]
) -> list[str]:
    """Every planted exact pair is found; no pair joins documents the
    generator made unrelated; pairs are distinct, ordered and at or
    above the 0.5 Jaccard threshold."""
    out = []
    keys = [(int(a), int(b)) for a, b, *_ in pairs]
    dups = [k for k, n in Counter(keys).items() if n > 1]
    if dups:
        out.append(f"pairs reported twice: {dups[:3]}")
    found = set(keys)
    missing = [tuple(p) for p in exact_pairs if tuple(p) not in found]
    if missing:
        out.append(f"{len(missing)} planted exact pairs not found, e.g. {missing[:3]}")
    for a, b, *rest in pairs:
        if not a < b:
            out.append(f"pair ({a}, {b}) is not ordered")
        elif family[str(a)] != family[str(b)]:
            out.append(f"pair ({a}, {b}) joins unrelated documents")
        elif rest and rest[0] < 0.5:
            out.append(f"pair ({a}, {b}) below threshold: {rest[0]}")
        if len(out) > 3:
            break
    return out


def semdedup_problems(rows: list[tuple], vec_group: dict[str, int]) -> list[str]:
    """Rows are (vec_id, cell, component, is_kept). Every id appears
    exactly once; no component spans two planted groups; a component
    is named by its minimum member, the one member kept."""
    out = []
    ids = Counter(int(r[0]) for r in rows)
    want = {int(i) for i in vec_group}
    if set(ids) != want:
        out.append(f"ids differ from the input: {len(set(ids) ^ want)} ids")
    twice = [i for i, n in ids.items() if n > 1]
    if twice:
        out.append(f"ids reported more than once: {twice[:3]}")
    members: dict[int, list[int]] = {}
    for vid, _cell_id, comp, kept in rows:
        members.setdefault(int(comp), []).append(int(vid))
        if bool(kept) != (int(vid) == int(comp)):
            out.append(f"vec {vid}: is_kept={kept} but component={comp}")
    for comp, ms in members.items():
        groups = {vec_group.get(str(m)) for m in ms}
        if len(groups) > 1:
            out.append(f"component {comp} spans planted groups {sorted(map(str, groups))}")
        if comp != min(ms):
            out.append(f"component {comp} is not its minimum member {min(ms)}")
    return out[:5]


FUNNEL_FIELDS = ("n_input", "n_quality_pass", "n_span_cut_tokens",
                 "n_ppl_kept", "n_selected", "final_tokens")


def funnel_problems(row: dict, truth: dict, oracle: dict) -> list[str]:
    """Input count and quality-pass count equal the planted counts,
    stage counts never increase, and every field equals the DuckDB
    replay of the same funnel."""
    out = []
    if row["n_input"] != truth["n_docs"]:
        out.append(f"n_input {row['n_input']} != generated {truth['n_docs']}")
    if row["n_quality_pass"] != truth["n_quality_pass"]:
        out.append(f"n_quality_pass {row['n_quality_pass']} != planted {truth['n_quality_pass']}")
    stages = [row[k] for k in ("n_input", "n_quality_pass", "n_ppl_kept", "n_selected")]
    if any(b > a for a, b in zip(stages, stages[1:])):
        out.append(f"stage counts increase: {stages}")
    diff = {k: (row[k], oracle[k]) for k in FUNNEL_FIELDS if row[k] != oracle[k]}
    if diff:
        out.append(f"differs from the DuckDB funnel: {diff}")
    return out


# --------------------------------------------------------------------------
# stream ingest
# --------------------------------------------------------------------------


def admitted_problems(content_ids: list[int], truth: dict) -> list[str]:
    """Every distinct planted new content is admitted exactly once."""
    got = Counter(int(c) for c in content_ids)
    out = []
    twice = [c for c, n in got.items() if n > 1]
    if twice:
        out.append(f"contents admitted more than once: {twice[:3]}")
    want = set(truth["admitted_cids"])
    if set(got) != want:
        out.append(
            f"admitted set differs: {len(want - set(got))} missing, "
            f"{len(set(got) - want)} unexpected"
        )
    return out


def version_problems(n_rows: int, truth: dict) -> list[str]:
    want = truth["first_file_admitted"]
    return [] if n_rows == want else [f"version 1 holds {n_rows} rows, expected {want}"]


def lang_agg_problems(rows: list[tuple], truth: dict) -> list[str]:
    got = {str(k): int(v) for k, v in rows}
    want = truth["admitted_by_lang"]
    return [] if got == want else [f"per-language counts {got} != planted {want}"]


def ingest_state_problems(
    index_keys: int, table_rows: int, truth: dict,
    versions: tuple[int, int], rows: tuple[int, int],
) -> list[str]:
    """The index holds the seed keys plus one key per admitted row, and
    a full replay under a fresh checkpoint adds no version and no row."""
    out = []
    if index_keys != truth["n_seed_keys"] + table_rows:
        out.append(
            f"index holds {index_keys} keys, expected "
            f"{truth['n_seed_keys']} + {table_rows}"
        )
    if versions[1] != versions[0]:
        out.append(f"replay moved the version from {versions[0]} to {versions[1]}")
    if rows[1] != rows[0]:
        out.append(f"replay changed the row count from {rows[0]} to {rows[1]}")
    return out
