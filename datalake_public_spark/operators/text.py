"""Text-analysis operators for large-scale training-data pipelines.

Token statistics, repetition signals, quality score, language-ID, the
drop-rule quality filter, PII redaction, fingerprints and normalization
over a document table.

Every per-doc text signal comes from ONE Arrow kernel pass
(``functions/text_kernels.signal_frame``), so each signal operator below
is a projection of the kernel's output: one scan, map-only, no shuffle.
The drop rules are Catalyst over the kernel's columns
(``drop_reasons_from_signals``). The Catalyst column factories in
``tests/text_spec.py`` are the kernel's equality oracle; the DuckDB
``*_sql`` twins in ``functions/text_funcs.py`` are the driver oracle's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalake_public_spark.functions import text_funcs as T
from datalake_public_spark.functions import text_kernels as K
from datalake_public_spark.sources.readers import widen_for_compute

#: the language-ID columns, in output order
LANG_COLS = ("pred_lang", *(f"hits_{lang}" for lang in T.LANG_MARKERS))


# The projections below are SQL strings (selectExpr / F.expr): each is
# one parse in the JVM, where a Column tree costs a py4j round trip per
# node at plan build.


def sig_expr(name: str, alias: str | None = None) -> str:
    """selectExpr item: a ``signal_frame`` column under its public name."""
    return f"`{K.SIG}{name}` AS `{alias or name}`"


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace + BPE-ish token counts and byte/char lengths."""
    return K.signal_frame(docs, text_col, keep=[id_col], re_tokens=True).selectExpr(
        f"`{id_col}`",
        *map(
            sig_expr,
            ("n_chars", "n_bytes", "n_ws_tokens", "n_re_tokens", "n_uniq_tokens"),
        ),
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language heuristic: argmax hits over LANG_MARKERS,
    alphabetical tie-break, 'und' on zero hits."""
    return K.signal_frame(docs, text_col, keep=[id_col]).selectExpr(
        f"`{id_col}`", *map(sig_expr, LANG_COLS)
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality heuristics: lexical diversity, mean token
    length, and a blended 0-1 score, next to the table's own ``n_chars``.
    Formulas mirrored exactly in the driver oracle — change both
    together.

    All ratio outputs use exact integer half-up rounding (the
    functions/arith.int_ratio_half_up rule) — the inputs are integer
    token statistics, so the whole computation is engine-portable with
    no float-rounding hazard. The blend 0.5·uniq + 0.5·(1 − min(|mean−5|
    /10, 1)) is computed as one rational: (10·du + 10·n − min(|cs − 5n|,
    10n)) / (20n). Zero-token and NULL text give NULL ratios."""
    return K.signal_frame(docs, text_col, keep=[id_col, "n_chars"]).selectExpr(
        f"`{id_col}`",
        "n_chars",
        sig_expr("n_ws_tokens", "n_tokens"),
        *map(sig_expr, ("uniq_ratio", "mean_tok_len", "quality")),
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals: the fraction of DUPLICATE token
    2-grams (``1 - distinct/total``) and the most-frequent-token mass
    (occurrences of the modal token / total tokens). High values flag
    boilerplate, keyword stuffing, and degenerate generations — the
    standard drop-rule inputs for training-data quality filtering. Docs
    with < 2 tokens emit 0 for both ratios (no 2-grams, no repetition
    evidence)."""
    return K.signal_frame(docs, text_col, keep=[id_col]).selectExpr(
        f"`{id_col}`",
        sig_expr("n_ws_tokens", "n_tokens"),
        *map(sig_expr, ("n_grams", "dup_ngram_frac", "top_token_frac")),
    )


def doc_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Every per-doc signal family — token stats, repetition, quality
    score, language-ID — from ONE kernel pass over ONE scan. This is the
    frame a pipeline materializes once and reuses for filtering, split
    stratification, and reporting; at 100 TB it reads the corpus exactly
    once and never shuffles."""
    return K.signal_frame(docs, text_col, keep=[id_col], re_tokens=True).selectExpr(
        f"`{id_col}`",
        *map(
            sig_expr,
            (
                "n_chars", "n_bytes", "n_ws_tokens", "n_re_tokens",
                "n_uniq_tokens", "n_grams", "dup_ngram_frac", "top_token_frac",
            ),
        ),
        sig_expr("n_ws_tokens", "n_tokens"),
        *map(sig_expr, ("uniq_ratio", "mean_tok_len", "quality", *LANG_COLS)),
    )


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_chars: int = 50,
    min_tokens: int = 10,
    max_dup_ngram_frac: float = 0.3,
    max_top_token_frac: float = 0.2,
    min_quality: float = 0.3,
    langs: tuple[str, ...] | None = None,
    with_reasons: bool = False,
) -> DataFrame:
    """The standard pre-training drop-rule filter over the per-doc
    signals (Gopher/C4-style rules over this engine's metrics): minimum
    length, repetition ceilings (duplicate-2-gram fraction and
    modal-token mass), a quality-score floor, and an optional language
    allowlist.

    Returns the surviving docs (original columns). ``with_reasons=True``
    instead returns ALL docs with a ``drop_reasons`` array column — the
    audit view a pipeline materializes before committing to a filter.

    Scale: the signal kernel passes the docs' own columns through, so
    the whole filter is ONE kernel pass over ONE scan — no joins, no
    shuffle, no second read of the corpus (plan pinned in
    tests/test_plan_quality.py). The filter reads kernel attributes, so
    the optimizer has no signal expression to push into the scan.

    NULL semantics: a NULL-text doc is DROPPED, tagged ``too_short_chars``,
    ``too_short_tokens``, ``low_quality_score`` and, with ``langs``,
    ``lang_not_allowed`` — NULL predicates count as violations. The
    repetition rules do not fire on it: their ratios are 0.0 for a doc
    with no tokens (see ``text_kernels.doc_signals_batch``)."""
    sig = K.signal_frame(docs, text_col, keep=docs.columns)
    reasons = kernel_drop_reasons(
        min_chars=min_chars,
        min_tokens=min_tokens,
        max_dup_ngram_frac=max_dup_ngram_frac,
        max_top_token_frac=max_top_token_frac,
        min_quality=min_quality,
        langs=langs,
    )
    if with_reasons:
        return sig.select(*docs.columns, reasons.alias("drop_reasons"))
    return sig.filter(F.size(reasons) == 0).select(*docs.columns)


def drop_reasons_from_signals(
    n_chars: str,
    n_ws_tokens: str,
    dup_frac: str,
    top_frac: str,
    quality: str,
    pred_lang: str,
    *,
    min_chars: int = 50,
    min_tokens: int = 10,
    max_dup_ngram_frac: float = 0.3,
    max_top_token_frac: float = 0.2,
    min_quality: float = 0.3,
    langs: tuple[str, ...] | None = None,
) -> Column:
    """The drop rules — their one definition: an array of violated-rule
    tags (empty = survivor) over the six named signal columns, rule
    order fixed, NULL predicates counted as violations."""
    col = lambda name: f"`{name}`"  # noqa: E731
    double = lambda x: f"{float(x)!r}D"  # noqa: E731  (exact double literal)
    rules = [
        (f"{col(n_chars)} < {min_chars}", f"too_short_chars<{min_chars}"),
        (f"{col(n_ws_tokens)} < {min_tokens}", f"too_short_tokens<{min_tokens}"),
        (f"{col(dup_frac)} > {double(max_dup_ngram_frac)}", "repetitive_ngrams"),
        (f"{col(top_frac)} > {double(max_top_token_frac)}", "modal_token_mass"),
        (f"{col(quality)} < {double(min_quality)}", "low_quality_score"),
    ]
    if langs is not None:
        allowed = ", ".join(
            "'" + lang.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for lang in langs
        )
        allowed_sql = f"NOT {col(pred_lang)} IN ({allowed})" if langs else "true"
        rules.append((allowed_sql, "lang_not_allowed"))
    # NULL predicate (NULL text/signal) counts as a drop, not a pass;
    # passed rules tag '' and array_remove drops them (array_compact
    # would be an interpreted filter lambda)
    tags = ", ".join(
        f"CASE WHEN coalesce({cond}, true) THEN '{tag}' ELSE '' END"
        for cond, tag in rules
    )
    return F.expr(f"array_remove(array({tags}), '')")


def kernel_drop_reasons(**rules) -> Column:
    """``drop_reasons_from_signals`` over a ``signal_frame``'s columns
    (the rule length is the text's own ``length``, not a stored column)."""
    return drop_reasons_from_signals(
        *(
            K.SIG + n
            for n in (
                "n_chars", "n_ws_tokens", "dup_ngram_frac",
                "top_token_frac", "quality", "pred_lang",
            )
        ),
        **rules,
    )


def corpus_familiarity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    vocab_k: int = 256,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Unigram corpus-familiarity signals: score each document against
    the corpus's own top-``vocab_k`` vocabulary — ``oov_frac`` (fraction
    of tokens outside the vocabulary) and ``familiarity`` (mean global
    occurrence count of the doc's tokens, OOV counting 0). Low
    familiarity / high OOV flags gibberish, codemixed noise, and
    boilerplate-free outliers — the frequency-based cousin of the
    quality score, and deterministic (integer counts + exact half-up
    ratios) where a float log-prob LM would be engine-divergent.

    Scale: the vocabulary is a two-phase aggregate + bounded top-k
    (TakeOrdered) and BROADCASTS (≤ vocab_k rows); the per-doc side is
    explode → map-side broadcast join → partial agg, so the shuffle
    carries ~one row per doc per partition, never the token stream.

    ``tokens_df``: an optional pre-tokenized frame
    ``(id_col, toks: array<string>)`` — this operator consumes the
    corpus tokenization TWICE (vocabulary build + per-doc scoring), so
    a caller that already tokenized (the vocab driver entry shares one
    persisted tokenization across its api-vocab and familiarity
    branches) halves the scan work by passing it in. The tokens MUST be
    ``T.tokens(text_col)`` output; caller owns the cache lifecycle."""
    from datalake_public_spark.functions.arith import int_ratio_half_up

    if tokens_df is None:
        tokens_df = docs.select(
            F.col(id_col), T.tokens(text_col).alias("toks")
        )
    vocab = (
        tokens_df.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tok_count"))
        .orderBy(F.desc("tok_count"), F.asc("token"))
        .limit(vocab_k)
    )
    exploded = tokens_df.select(
        F.col(id_col), F.explode_outer("toks").alias("token")
    )
    joined = exploded.join(F.broadcast(vocab), "token", "left")
    n_tokens = F.count("token")
    n_oov = F.sum(
        F.when(F.col("token").isNotNull() & F.col("tok_count").isNull(), 1).otherwise(0)
    )
    vocab_mass = F.coalesce(F.sum("tok_count"), F.lit(0).cast("long"))
    return joined.groupBy(id_col).agg(
        n_tokens.cast("int").alias("n_tokens"),
        n_oov.cast("int").alias("n_oov"),
        F.coalesce(int_ratio_half_up(n_oov, n_tokens, 4), F.lit(0.0)).alias(
            "oov_frac"
        ),
        F.coalesce(int_ratio_half_up(vocab_mass, n_tokens, 4), F.lit(0.0)).alias(
            "familiarity"
        ),
    )


# PII patterns — alternation-free, ASCII character classes only, so Java
# regex (Spark) and RE2 (DuckDB) produce IDENTICAL matches (greedy class
# quantifiers are leftmost-longest in both when no alternation exists).
# Change these together with the SQL twins in driver_registry.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d -]{7,}\d",
}
_PII_ORDER = ("email", "ip", "phone")  # fixed redaction order — email
# first (contains digits/dots that the ip/phone patterns could clip)


def pii_count_cols(text_col: str = "text") -> list:
    """Per-doc PII counters (emails / IPv4s / phone-shaped digit runs) —
    row-local regexp_count expressions, composable into the same single
    projection as the other signal families."""
    return [
        F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[k])).alias(f"n_{k}s")
        for k in _PII_ORDER
    ]


def redacted_text_col(text_col: str = "text"):
    """The redacted text expression: every PII match replaced by its
    [TYPE] tag, fixed pattern order. Pure Catalyst regexp_replace chain —
    redaction runs at scan speed, no UDF."""
    out = F.col(text_col)
    for k in _PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[k], f"[{k.upper()}]")
    return out


def redact_pii(
    docs: DataFrame, text_col: str = "text", *, with_counts: bool = False
) -> DataFrame:
    """PII scrub for training corpora: emails, IPv4 addresses, and
    phone-shaped digit runs replaced by [EMAIL]/[IP]/[PHONE] tags in
    ``text_col`` (original columns otherwise preserved).
    ``with_counts=True`` appends per-type match counters — the audit
    view to materialize before committing to a scrub. One projection
    over one scan; at 100 TB this redacts at scan speed."""
    cols = [
        redacted_text_col(text_col).alias(text_col) if c == text_col else F.col(c)
        for c in docs.columns
    ]
    if with_counts:
        cols += pii_count_cols(text_col)
    return docs.select(*cols)


def fingerprint(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rolling-hash document fingerprint (first 256 chars) + 32-bit simhash.
    Engine-portable modular arithmetic (functions/text_funcs.py), computed
    by vectorized Arrow kernels (functions/text_kernels.py) — the
    Catalyst formulation is per-character interpreted HOFs (~5 ms/doc,
    scale-weak) and stays the spec (equivalence pinned in
    tests/test_text_kernels.py)."""
    return widen_for_compute(docs).select(
        F.col(id_col),
        K.fingerprint256_kernel(text_col).alias("fingerprint"),
        K.simhash32_kernel(text_col).alias("simhash"),
    )


def normalize_text(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The pre-tokenization cleaning pass: NFC unicode normalization,
    CRLF→LF, control-character strip (tabs/newlines kept), horizontal-
    whitespace collapse, space-trim around newlines, outer trim — one
    Arrow-batched kernel (Spark has no built-in NFC), with a lockstep
    DuckDB twin (``functions.text_kernels.normalize_text_sql``) so the
    chain is cross-engine pinned. Emits the normalized text plus the
    original/normalized char counts (the audit columns a cleaning run
    reports). Scale: map-only, no shuffle; NULL text propagates."""
    wide = widen_for_compute(docs)
    return wide.select(
        F.col(id_col),
        K.normalize_text_kernel(F.col(text_col)).alias("text"),
        F.length(F.col(text_col)).alias("n_chars_raw"),
    ).withColumn("n_chars_norm", F.length("text"))
