"""Each correctness check accepts a right output and rejects the same
output with one row dropped, duplicated or altered."""

import json

import pytest

import checks
import gen

# --------------------------------------------------------------------------
# SQL
# --------------------------------------------------------------------------

SCHEMA = {"table1": ["A", "B", "C"], "table2": ["B", "D"], "table3": ["A", "B", "C"]}
ROWS = [(1, 4, 7), (2, 5, 8), (-3, 6, None)]


def _drop(rows):
    return rows[:-1]


def _dup(rows):
    return rows[:-1] + [rows[0]]


def _alter(rows):
    r = list(rows[1])
    r[-1] = 999
    return [rows[0], tuple(r)] + rows[2:]


CORRUPT = {"dropped": _drop, "duplicated": _dup, "altered": _alter}


def test_rows_match_accepts_any_order_and_float_rounding():
    assert checks.rows_match(list(reversed(ROWS)), ROWS) == []
    assert checks.rows_match([(0.1 + 0.2,)], [(0.3,)]) == []


@pytest.mark.parametrize("how", CORRUPT)
def test_rows_match_rejects(how):
    assert checks.rows_match(CORRUPT[how](ROWS), ROWS)


@pytest.mark.parametrize("query,headers", [
    ("select * from table1, table2",
     ["table1.A", "table1.B", "table1.C", "table2.B", "table2.D"]),
    ("select max(A) from table1;", ["max(table1.A)"]),
    ("select average(C) from table3 -- ad hoc", ["avg(table3.C)"]),
    ("select distinct(C) from table3", ["table3.C"]),
    ("select A, D from table1, table2 where table1.B = table2.B and table1.A > 5",
     ["table1.A", "table2.D"]),
    ("select table1.A, table2.D from table1, table2 where table1.B < 9",
     ["table1.A", "table2.D"]),
])
def test_expected_headers_from_query_text(query, headers):
    assert checks.expected_headers(query, SCHEMA) == headers


def test_expected_headers_refuses_an_ambiguous_column():
    with pytest.raises(ValueError):
        checks.expected_headers("select B from table1, table2", SCHEMA)


def _grid(headers, rows):
    from minisql_engine_spark.format import ascii_table

    return ascii_table(headers, rows)


def test_sql_output_accepts_the_cli_rendering():
    h = ["table1.A", "table1.B", "table1.C"]
    assert checks.sql_output_problems(
        "select A, B, C from table1", SCHEMA, h, ROWS, _grid(h, ROWS), ROWS) == []


@pytest.mark.parametrize("how", CORRUPT)
def test_sql_output_rejects_corrupted_rows(how):
    h = ["table1.A", "table1.B", "table1.C"]
    bad = CORRUPT[how](ROWS)
    assert checks.sql_output_problems(
        "select A, B, C from table1", SCHEMA, h, bad, _grid(h, bad), ROWS)


def test_sql_output_rejects_wrong_headers():
    h = ["A", "B", "C"]
    assert checks.sql_output_problems(
        "select A, B, C from table1", SCHEMA, h, ROWS, _grid(h, ROWS), ROWS)


@pytest.mark.parametrize("how", ["dropped", "duplicated", "altered"])
def test_ascii_grid_rejects_corrupted_lines(how):
    h = ["table1.A", "table1.B", "table1.C"]
    lines = _grid(h, ROWS).split("\n")
    if how == "dropped":
        lines.pop(4)
    elif how == "duplicated":
        lines.insert(4, lines[4])
    else:
        lines[4] = lines[4].replace("5", "6")
    assert checks.ascii_grid_problems("\n".join(lines), h, ROWS)


def test_ascii_grid_of_empty_result_is_empty():
    assert checks.ascii_grid_problems("", ["t.A"], []) == []
    assert checks.ascii_grid_problems("+--+", ["t.A"], [])


# --------------------------------------------------------------------------
# curation
# --------------------------------------------------------------------------

FAMILY = {"1": 1, "2": 1, "3": 3, "4": 4, "5": 3}
PAIRS = [(1, 2, 1.0), (3, 5, 0.8)]


def test_minhash_accepts_planted_pairs():
    assert checks.minhash_problems(PAIRS, [[1, 2]], FAMILY) == []


@pytest.mark.parametrize("bad", [
    [(3, 5, 0.8)],                          # dropped: exact pair missing
    PAIRS + [(1, 2, 1.0)],                  # duplicated
    [(1, 2, 1.0), (3, 4, 0.8)],             # altered: unrelated documents
    [(1, 2, 1.0), (5, 3, 0.8)],             # altered: unordered
    [(1, 2, 1.0), (3, 5, 0.3)],             # altered: below threshold
])
def test_minhash_rejects(bad):
    assert checks.minhash_problems(bad, [[1, 2]], FAMILY)


GROUP = {"10": 0, "11": 0, "12": 1, "13": 2}
SEM = [(10, 0, 10, True), (11, 0, 10, False), (12, 1, 12, True), (13, 1, 13, True)]


def test_semdedup_accepts_a_right_roster():
    assert checks.semdedup_problems(SEM, GROUP) == []


@pytest.mark.parametrize("bad", [
    SEM[:-1],                                # dropped
    SEM + [SEM[1]],                          # duplicated
    SEM[:2] + [(12, 1, 10, False), SEM[3]],  # altered: spans two groups
    SEM[:2] + [(12, 1, 12, False), SEM[3]],  # altered: root not kept
    [(10, 0, 11, False), (11, 0, 11, True)] + SEM[2:],  # not min member
])
def test_semdedup_rejects(bad):
    assert checks.semdedup_problems(bad, GROUP)


TRUTH = {"n_docs": 10, "n_quality_pass": 8}
FUNNEL = {"n_input": 10, "n_quality_pass": 8, "n_span_cut_tokens": 5,
          "n_ppl_kept": 6, "n_selected": 4, "final_tokens": 100}


def test_funnel_accepts_a_right_row():
    assert checks.funnel_problems(dict(FUNNEL), TRUTH, dict(FUNNEL)) == []


@pytest.mark.parametrize("field,value", [
    ("n_input", 9),            # an input row dropped
    ("n_input", 11),           # an input row duplicated
    ("n_quality_pass", 7),     # altered: differs from the planted count
    ("n_selected", 7),         # altered: a stage count increases
    ("final_tokens", 99),      # altered: differs from DuckDB only
])
def test_funnel_rejects(field, value):
    assert checks.funnel_problems(dict(FUNNEL, **{field: value}), TRUTH, dict(FUNNEL))


# --------------------------------------------------------------------------
# stream ingest
# --------------------------------------------------------------------------

STREAM = {"admitted_cids": [1, 2, 3], "first_file_admitted": 2,
          "admitted_by_lang": {"en": 2, "de": 1}, "n_seed_keys": 5}


def test_stream_checks_accept_right_state():
    assert checks.admitted_problems([3, 1, 2], STREAM) == []
    assert checks.version_problems(2, STREAM) == []
    assert checks.lang_agg_problems([("de", 1), ("en", 2)], STREAM) == []
    assert checks.ingest_state_problems(8, 3, STREAM, (2, 2), (3, 3)) == []


@pytest.mark.parametrize("bad", [[1, 2], [1, 2, 3, 3], [1, 2, 4]])
def test_admitted_rejects_dropped_duplicated_altered(bad):
    assert checks.admitted_problems(bad, STREAM)


def test_version_and_aggregate_reject_wrong_counts():
    assert checks.version_problems(3, STREAM)
    assert checks.lang_agg_problems([("en", 2)], STREAM)
    assert checks.lang_agg_problems([("de", 1), ("en", 2), ("en", 1)], STREAM)
    assert checks.lang_agg_problems([("de", 2), ("en", 2)], STREAM)


@pytest.mark.parametrize("keys,versions,rows", [
    (7, (2, 2), (3, 3)),   # an index key dropped
    (9, (2, 2), (3, 3)),   # an index key duplicated
    (8, (2, 3), (3, 3)),   # the replay committed a version
    (8, (2, 2), (3, 4)),   # the replay added a row
])
def test_ingest_state_rejects(keys, versions, rows):
    assert checks.ingest_state_problems(keys, 3, STREAM, versions, rows)


# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_inputs_are_a_pure_function_of_the_seed(tmp_path, workload):
    def build(seed, name):
        d = tmp_path / name
        d.mkdir()
        truth = json.dumps(gen.GENERATORS[workload](seed, str(d)))
        files = {str(p.relative_to(d)): p.read_bytes()
                 for p in sorted(d.rglob("*")) if p.is_file()}
        return truth, files

    assert build(5, "a") == build(5, "b")
    assert build(6, "c")[0] != build(5, "d")[0]


def test_planted_documents_have_their_built_verdicts():
    import numpy as np

    rows, family, passing, exact = gen._doc_corpus(np.random.default_rng(3), 60)
    for r in rows:
        assert all(gen.quality_verdicts(r["text"]).values()) == (r["doc_id"] in passing)
    for a, b in exact:
        assert family[a] == family[b]
