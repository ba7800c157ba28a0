"""The Catalyst specification of every per-doc text signal — the single
equality oracle for the production Arrow signal kernel
(``functions/text_kernels.signal_frame``).

The column factories return named row-local expressions; the ``*_spec``
builders compose them into the exact frame (names, column order, dtypes)
each production operator returns, so a test compares the two frames
whole. ``tok_col`` names an already-bound whitespace-token array:
interpreted HOF evaluation re-runs a captured tokenize expression per
reference (and per element inside lambdas), so the builders bind tokens
in a prior projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalake_public_spark.functions import text_funcs as T
from datalake_public_spark.functions.arith import int_ratio_half_up
from datalake_public_spark.operators import text
from datalake_public_spark.operators.text import drop_reasons_from_signals


def regex_tokens(col: str = "text") -> Column:
    """BPE-ish tokens: lowercase, split on non-alnum runs."""
    return F.filter(F.split(F.lower(F.col(col)), T.TOKEN_REGEX), lambda t: t != "")


def lang_hits(col: str, lang: str) -> Column:
    """Count of marker-word hits for one language."""
    markers = T.LANG_MARKERS[lang]
    return F.size(F.filter(T.tokens(col), lambda t: t.isin(*markers)))


def language_id(col: str = "text") -> Column:
    """Predicted language: argmax marker hits, alphabetical tie-break,
    'und' when no hits."""
    hits = {lang: lang_hits(col, lang) for lang in T.LANG_MARKERS}
    mx = F.greatest(*hits.values())
    pred = F.lit("und")
    # build the CASE chain in reverse so earlier (alphabetical) langs win ties
    for lang in reversed(list(T.LANG_MARKERS)):
        pred = F.when((hits[lang] == mx) & (mx > 0), F.lit(lang)).otherwise(pred)
    return pred


def token_stat_cols(text_col: str = "text", *, tok_col: str | None = None) -> list:
    """Token-statistics signals."""
    toks = F.col(tok_col) if tok_col else T.tokens(text_col)
    return [
        F.length(F.col(text_col)).alias("n_chars"),
        F.octet_length(F.col(text_col)).alias("n_bytes"),
        F.size(toks).alias("n_ws_tokens"),
        F.size(regex_tokens(text_col)).alias("n_re_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
    ]


def language_cols(text_col: str = "text") -> list:
    """Language-ID signals."""
    return [
        language_id(text_col).alias("pred_lang"),
        *[lang_hits(text_col, lang).alias(f"hits_{lang}") for lang in T.LANG_MARKERS],
    ]


def quality_cols(text_col: str = "text", *, tok_col: str | None = None) -> list:
    """Quality-score signals: exact integer half-up ratios (NULL on zero
    tokens); sum of token lengths == length of the zero-sep concat."""
    toks = F.col(tok_col) if tok_col else T.tokens(text_col)
    n = F.size(toks).cast("long")
    du = F.size(F.array_distinct(toks)).cast("long")
    cs = F.length(F.concat_ws("", toks)).cast("long")
    p_quality = (
        F.lit(10) * du + F.lit(10) * n - F.least(F.abs(cs - F.lit(5) * n), F.lit(10) * n)
    )
    return [
        n.cast("int").alias("n_tokens"),
        int_ratio_half_up(du, n, 4).alias("uniq_ratio"),
        int_ratio_half_up(cs, n, 4).alias("mean_tok_len"),
        int_ratio_half_up(p_quality, F.lit(20) * n, 4).alias("quality"),
    ]


def repetition_cols(
    text_col: str = "text", *, n: int = 2, tok_col: str | None = None
) -> list:
    """Repetition signals: duplicate n-gram fraction and modal-token
    mass, both coalesced to 0.0 (no n-grams / no tokens)."""
    toks = F.col(tok_col) if tok_col else T.tokens(text_col)
    n_toks = F.size(toks)
    # all n-grams (NOT distinct — duplication is the signal here)
    idx = F.when(n_toks >= n, F.sequence(F.lit(1), n_toks - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
    grams = F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))
    n_grams = F.size(grams)
    dup_frac = F.coalesce(
        int_ratio_half_up(n_grams - F.size(F.array_distinct(grams)), n_grams, 6),
        F.lit(0.0),
    )
    # modal-token count: longest run of equal neighbours in the SORTED
    # tokens (a single pass; the lambda captures nothing)
    acc = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("cur"), F.lit(0).alias("best")
        ),
        lambda a, t: F.struct(
            t.alias("prev"),
            F.when(t == a.prev, a.cur + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                a.best, F.when(t == a.prev, a.cur + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
    )
    top_frac = F.coalesce(int_ratio_half_up(acc.best, n_toks, 6), F.lit(0.0))
    return [
        n_toks.alias("n_tokens"),
        n_grams.alias("n_grams"),
        dup_frac.alias("dup_ngram_frac"),
        top_frac.alias("top_token_frac"),
    ]


#: the names the spec binds its six drop-rule input signals to
RULE_SIGNALS = ("__r_chars", "__r_tokens", "__r_dup", "__r_top", "__r_quality", "__r_lang")


def rule_signal_cols(text_col: str = "text", *, tok_col: str | None = None) -> list:
    """The drop-rule input signals built inline from ``text_col``, named
    RULE_SIGNALS — bind them, then apply ``drop_reasons_col``."""
    _, _, dup_frac, top_frac = repetition_cols(text_col, tok_col=tok_col)
    sigs = (
        F.length(F.col(text_col)),
        F.size(F.col(tok_col)) if tok_col else F.size(T.tokens(text_col)),
        dup_frac,
        top_frac,
        quality_cols(text_col, tok_col=tok_col)[3],
        language_id(text_col),
    )
    return [c.alias(name) for c, name in zip(sigs, RULE_SIGNALS)]


def drop_reasons_col(**rules) -> Column:
    """The drop-rule audit expression over bound ``rule_signal_cols``
    (``rules``: the drop_reasons_from_signals thresholds)."""
    return drop_reasons_from_signals(*RULE_SIGNALS, **rules)


# -- the operator frames -------------------------------------------------


def _bound(docs: DataFrame, text_col: str) -> DataFrame:
    return docs.select("*", T.tokens(text_col).alias("__toks"))


def token_stats_spec(docs, text_col="text", id_col="doc_id") -> DataFrame:
    return _bound(docs, text_col).select(
        id_col, *token_stat_cols(text_col, tok_col="__toks")
    )


def language_id_spec(docs, text_col="text", id_col="doc_id") -> DataFrame:
    return docs.select(id_col, *language_cols(text_col))


def quality_score_spec(docs, text_col="text", id_col="doc_id") -> DataFrame:
    return _bound(docs, text_col).select(
        id_col, "n_chars", *quality_cols(text_col, tok_col="__toks")
    )


def repetition_stats_spec(docs, text_col="text", id_col="doc_id") -> DataFrame:
    return _bound(docs, text_col).select(
        id_col, *repetition_cols(text_col, tok_col="__toks")
    )


def doc_signals_spec(docs, text_col="text", id_col="doc_id") -> DataFrame:
    return _bound(docs, text_col).select(
        id_col,
        *token_stat_cols(text_col, tok_col="__toks"),
        *repetition_cols(text_col, tok_col="__toks")[1:],
        *quality_cols(text_col, tok_col="__toks"),
        *language_cols(text_col),
    )


def quality_filter_audit_spec(docs, text_col="text", **rules) -> DataFrame:
    """quality_filter(with_reasons=True); its survivors are the rows with
    no reasons."""
    return (
        _bound(docs, text_col)
        .select("*", *rule_signal_cols(text_col, tok_col="__toks"))
        .select(*docs.columns, drop_reasons_col(**rules).alias("drop_reasons"))
    )


def text_stats_spec(docs) -> DataFrame:
    """driver_registry.text_stats."""
    return _bound(docs, "text").select(
        "doc_id",
        *token_stat_cols(tok_col="__toks"),
        *repetition_cols(tok_col="__toks")[1:],
        *text.pii_count_cols(),
        F.md5(text.redacted_text_col()).alias("redacted_md5"),
    )


def text_lang_quality_spec(docs) -> DataFrame:
    """driver_registry.text_lang_quality."""
    from datalake_public_spark import driver_registry as DR

    reasons = drop_reasons_col(
        min_chars=DR._QF_MIN_CHARS,
        min_tokens=DR._QF_MIN_TOKENS,
        max_dup_ngram_frac=DR._QF_MAX_DUP,
        max_top_token_frac=DR._QF_MAX_TOP,
        min_quality=DR._QF_MIN_QUALITY,
        langs=DR._QF_LANGS,
    )
    return (
        _bound(docs, "text")
        .select("*", *rule_signal_cols(tok_col="__toks"))
        .select(
            "doc_id",
            *language_cols(),
            "n_chars",
            *quality_cols(tok_col="__toks"),
            F.array_join(reasons, ",").alias("drop_reasons_csv"),
            (F.size(reasons) == 0).alias("survives"),
        )
    )
