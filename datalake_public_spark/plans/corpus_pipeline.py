"""The one-call corpus cleaning pipeline — the composition a training-
data user actually runs, in the canonical order:

  1. ``normalize_text``   — NFC + control/whitespace canonicalization
                            (so hashing/dedup see canonical bytes);
  2. ``line_dedup``       — corpus-wide boilerplate line removal
                            (optional: needs multi-line docs);
  3. ``quality_filter``   — Gopher/C4 drop rules (single scan);
  4. ``dedupe_corpus``    — exact pre-pass → MinHash/LSH → connected
                            components → keep-one-per-cluster.

Order matters: normalization BEFORE any hashing (a CRLF variant must
dedup against its LF twin); line-dedup before quality (stripping
boilerplate changes length/repetition signals — filter the cleaned
text); quality before near-dedup (no LSH work for docs that die
anyway).

Each stage is the already-profiled engine operator — this module adds
only composition, one cache and an auditable per-stage report.

The cache: the ``quality_filter`` output is persisted here, because
every later consumer reads it — the dedup stage's exact pre-pass (both
sides of ``stage ⋉ exact_dedup(stage)``), the MinHash signatures, and
each action on the returned frame (the report's ``dedup`` count, the
caller's write). Without it each of those re-runs the normalize and
quality Arrow kernels. The cache is created here, so it is released
here too: it is adopted onto the returned frame, and
``dedup.release_caches(clean_df)`` frees it with the operators' own
caches.

Laziness boundary: with the report on, each counted stage costs one
action, and the ``quality_filter`` count fills the cache. ``normalized``
is not counted: ``normalize_text`` is a row-preserving projection, so
``report["normalized"] == report["input"]`` by construction. At 100 TB
run the report on a sample or skip it (``with_report=False`` keeps the
pipeline lazy except the one owned cache, which the first action
fills).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from datalake_public_spark.operators import dedup as D
from datalake_public_spark.operators import text as T


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    line_level: bool = False,
    quality_kwargs: dict | None = None,
    neardedup_kwargs: dict | None = None,
    with_report: bool = True,
) -> tuple[DataFrame, dict]:
    """Run the full cleaning pipeline; returns ``(clean_df, report)``.

    ``clean_df`` has the id and cleaned text columns; ``report`` maps
    stage name → surviving doc count (empty when ``with_report`` is
    off). ``line_level=True`` enables corpus-wide line dedup between
    normalization and quality filtering (for corpora with multi-line
    documents).

    ``clean_df`` carries the stages' persisted intermediates (line
    frame, quality-filtered stage, LSH signatures); long-lived or
    repeated callers should run ``dedup.release_caches(clean_df)``
    AFTER materializing it — the perfbench curation op does this per
    batch."""
    report: dict[str, int] = {}

    def count(stage: str, df: DataFrame) -> DataFrame:
        if with_report:
            report[stage] = df.count()
        return df

    count("input", docs)
    if with_report:
        # normalize_text maps every row to one row
        report["normalized"] = report["input"]

    stage = T.normalize_text(docs, text_col, id_col).select(id_col, "text")

    line_frame = None
    if line_level:
        line_frame = D.line_dedup(stage, "text", id_col)
        stage = line_frame.filter("n_kept > 0").select(id_col, "text")
        stage = count("line_dedup", stage)

    stage = T.quality_filter(
        stage, "text", id_col, **(quality_kwargs or {})
    ).persist()
    stage = count("quality_filter", stage)

    cleaned = D.dedupe_corpus(stage, "text", id_col, **(neardedup_kwargs or {}))
    # the .filter().select() above drops the cache handles line_dedup
    # attached — re-adopt them, and the stage cache made here, so
    # release_caches(clean_df) frees both
    cleaned = D._adopt_caches(
        cleaned, stage, *([line_frame] if line_frame is not None else [])
    )
    cleaned = count("dedup", cleaned)

    return cleaned, report
