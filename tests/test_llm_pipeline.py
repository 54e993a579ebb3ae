"""End-to-end LLM curation funnel — oracle parity + stage semantics."""

from __future__ import annotations

import pandas as pd
import pytest

pytestmark = pytest.mark.driver_gate

from minisql_engine_spark.pipeline import (
    curate_llm_corpus,
    llm_curation_funnel,
    llm_curation_funnel_sql,
)
from minisql_engine_spark.sources.parquet_catalog import load_table
from tests.conftest import assert_matches_oracle


def test_funnel_oracle_corpus(spark, duck, sf_dir):
    out = llm_curation_funnel(load_table(spark, sf_dir, "documents"))
    assert_matches_oracle(
        out, duck.execute(llm_curation_funnel_sql()).df(), "llm-funnel"
    )


def test_funnel_plan_and_job_budget(spark, sf_dir):
    """The stage tables are lazy local checkpoints, so the funnel's
    plan starts at the last stage boundary. With ``persist`` each
    stage embedded its multi-consumer parent twice: 173k
    extended-explain lines and 56 jobs at sf0.01, against ~650 lines
    and 47 jobs cut at the boundaries. A budget is raised only with
    the reason recorded in CHANGES.md."""
    docs = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    group = "llm_funnel_budget"
    sc.setJobGroup(group, "llm_curation_funnel budget")
    try:
        out = llm_curation_funnel(docs)
        out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    plan = sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "extended"
    )
    n_lines = len(plan.splitlines())
    assert n_lines <= 1000, f"funnel plan grew to {n_lines} explain lines"
    assert jobs <= 47, f"funnel ran {jobs} Spark jobs"


def test_funnel_is_monotone_and_roster_consistent(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    f = llm_curation_funnel(docs).collect()[0]
    assert f.n_input >= f.n_quality_pass >= f.n_ppl_kept >= f.n_selected
    assert f.n_selected > 0  # the corpus survives the funnel
    roster = curate_llm_corpus(docs).toPandas()
    assert len(roster) == f.n_selected
    assert int(roster.n_tokens_lm.sum()) == f.final_tokens
    # survivors carry the guarantees of their stages
    assert (roster.bucket != "tail").all()
    assert (roster.avg_logw > 0).all()


def test_fully_duplicated_docs_fall_out_as_empty(spark, duck):
    """Two identical quality-passing docs are 100% mutual spans —
    cut to empty, they drop before LM scoring; a unique doc of the
    same shape survives to the end."""
    base = "the cat and the dog sat on the mat in peace today really"
    uniq = ("the bird and the fish swam to the pond in light today "
            "quietly")
    rows = [(1, base, "en"), (2, base, "en"), (3, uniq, "en")]
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    duck.register(
        "_llm", pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    )
    out = llm_curation_funnel(sdf, span_k=5)
    assert_matches_oracle(
        out,
        duck.execute(llm_curation_funnel_sql(table="_llm", span_k=5)).df(),
        "llm-dup",
    )
    f = out.collect()[0]
    assert f.n_quality_pass == 3
    # docs 1+2 fully cut (13 tokens each), doc 3 untouched
    assert f.n_span_cut_tokens == 26
    assert f.n_ppl_kept == 1
