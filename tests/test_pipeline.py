"""End-to-end curate_corpus integration contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from minisql_engine_spark.materialize import release
from minisql_engine_spark.operators.dedup import minhash_lsh_dedup
from minisql_engine_spark.pipeline import curate_corpus
from minisql_engine_spark.sources import load_table


@pytest.fixture(autouse=True)
def _release_held():
    # after the test, not after the collect: a curated frame reads
    # the clustering checkpoint, which cannot be recomputed once freed
    yield
    release("dedup")
    release("clustering")


def _curated(spark, sf_dir, **kw):
    out = curate_corpus(load_table(spark, sf_dir, "documents"), **kw)
    return out, out.collect()


def test_no_exact_dups_survive(spark, sf_dir):
    out, rows = _curated(spark, sf_dir, langs=None, min_tokens=5)
    hashes = [r["content_hash"] for r in rows]
    assert len(hashes) == len(set(hashes))
    assert len(rows) > 0


def test_no_near_dups_survive(spark, sf_dir):
    """Re-running the near-dup detector on the curated output must
    find nothing — the cluster resolution kept exactly one member."""
    out, _ = _curated(spark, sf_dir, langs=None, min_tokens=5)
    leftover = minhash_lsh_dedup(
        out.select("doc_id", "text"), threshold=0.5
    ).count()
    assert leftover == 0


def test_deterministic_end_to_end(spark, sf_dir):
    _, a = _curated(spark, sf_dir, langs=("en",))
    _, b = _curated(spark, sf_dir, langs=("en",))
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_gates_apply(spark, sf_dir):
    _, rows = _curated(spark, sf_dir, langs=("en",), min_tokens=25)
    assert all(r["n_ws_tokens"] >= 25 for r in rows)
    assert all(r["split"] in {"train", "val", "test"} for r in rows)
    splits = {r["split"] for r in rows}
    assert "train" in splits


def test_redaction_applied_to_text(spark):
    docs = [
        (1, "good text " * 10 + " contact bob@x.io now", "en"),
        (2, "clean document body " * 10, "en"),
    ]
    df = _docs_df(docs)
    out = curate_corpus(df, min_tokens=5, langs=None, near_dups=False)
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert "<EMAIL>" in texts[1]
    assert "bob@x.io" not in texts[1]


def test_pii_invariant_dedup(spark):
    """Same text up to the PII span must dedup to one document —
    redaction happens before hashing."""
    body = "this is a sufficiently long shared document body " * 3
    docs = [
        (1, body + "reach me at alice@a.com", "en"),
        (2, body + "reach me at bob@b.org", "en"),
    ]
    out = curate_corpus(
        _docs_df(docs), min_tokens=5, langs=None, near_dups=False
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 1  # min-id canonical
    assert rows[0]["n_copies"] == 2


def test_lazy_without_near_dups(spark, sf_dir):
    """near_dups=False keeps the whole pipeline one lazy plan (no jobs
    run at construction)."""
    docs = load_table(spark, sf_dir, "documents")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = curate_corpus(docs, near_dups=False, langs=None)
    after = tracker.getJobIdsForGroup(None)
    assert before == after
    assert out.columns[0] == "doc_id"


def _docs_df(rows):
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])
