"""clean_corpus: composition order, per-stage report, and end-state
invariants (no exact dups, no near-dup pairs above threshold, survivors
pass the quality rules)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_public_spark.operators import dedup as D
from datalake_public_spark.plans.corpus_pipeline import clean_corpus
from tests.conftest import SF_SMOKE, cache_empty


def test_clean_corpus_end_state_invariants(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    clean, report = clean_corpus(docs)
    # monotone funnel, nothing lost before filtering stages
    assert report["input"] == report["normalized"] == 500
    assert 0 < report["dedup"] <= report["quality_filter"]
    # end state: no exact duplicates survive
    n = clean.count()
    assert clean.select("text").distinct().count() == n
    # and no near-dup pair above the default threshold survives
    assert D.ngram_jaccard_pairs(clean, threshold=0.5).count() == 0


def test_clean_corpus_normalization_feeds_dedup(spark):
    # a CRLF variant of an existing doc must dedup away AFTER
    # normalization even though its raw bytes differ
    rows = [
        (1, "one two three four five six seven eight nine ten " * 3),
        (2, ("one two three four five six seven eight nine ten " * 3).replace(
            " ", "  ")),  # double spaces → same after collapse
        (3, "totally different content that stands alone " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clean, report = clean_corpus(
        docs,
        quality_kwargs={"min_quality": 0.0, "max_dup_ngram_frac": 1.0,
                        "max_top_token_frac": 1.0},
    )
    kept = {r.doc_id for r in clean.select("doc_id").collect()}
    assert 1 in kept and 2 not in kept and 3 in kept


def test_clean_corpus_line_level_strips_boilerplate(spark):
    body = "unique payload sentence with plenty of words to pass the rules "
    rows = [
        (i, "COPYRIGHT FOOTER LINE\n" + body * 4 + f"variant {i}")
        for i in range(1, 5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clean, _ = clean_corpus(
        docs,
        line_level=True,
        quality_kwargs={"min_quality": 0.0, "max_dup_ngram_frac": 1.0,
                        "max_top_token_frac": 1.0},
        neardedup_kwargs={"threshold": 0.9},
    )
    texts = {r.doc_id: r.text for r in clean.collect()}
    # footer survives only in the first doc
    assert sum("COPYRIGHT" in t for t in texts.values()) == 1


def test_clean_corpus_lazy_without_report(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    clean, report = clean_corpus(docs, with_report=False)
    assert report == {}
    assert clean.count() > 0


REPEATED = "a plain sentence about rivers, bridges and the towns between them " * 3
RELAXED = {"min_quality": 0.0, "max_dup_ngram_frac": 1.0, "max_top_token_frac": 1.0}


@pytest.mark.parametrize(
    "rows, survivors",
    [
        pytest.param([], 0, id="empty"),
        pytest.param([(i, None) for i in range(1, 6)], 0, id="all-null-text"),
        pytest.param([(i, REPEATED) for i in range(1, 9)], 1, id="one-text-repeated"),
        pytest.param([(1, REPEATED)], 1, id="single-doc"),
    ],
)
def test_clean_corpus_degenerate_batches(spark, rows, survivors):
    """Legal but degenerate batches run through without raising, report
    a funnel that never grows, and leave no cache behind once the
    caller releases the result — the stage cache clean_corpus makes
    included. A corpus of one repeated text keeps exactly one doc;
    NULL texts fail the quality rules."""
    spark.catalog.clearCache()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clean, report = clean_corpus(docs, quality_kwargs=RELAXED)
    n = clean.count()
    D.release_caches(clean)
    counts = list(report.values())
    assert list(report) == ["input", "normalized", "quality_filter", "dedup"]
    assert counts[0] == len(rows)
    assert all(b <= a for a, b in zip(counts, counts[1:]))
    assert n == report["dedup"] == survivors
    assert cache_empty(spark)
