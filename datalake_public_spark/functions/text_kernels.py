"""Arrow/numpy kernels: the per-doc text signal kernel and the
rolling-hash family.

``signal_frame`` is the one production form of every per-doc text signal
(token, gram, repetition, quality-score and language-ID counts and
ratios, plus the PII counters of the driver's text_stats row): one
mapInArrow pass computes them from the Arrow buffers. The Catalyst
column factories in ``tests/text_spec.py`` are its equality oracle.

The Catalyst hash formulations in ``text_funcs.py`` (``rolling_hash``,
``simhash32``) are per-character interpreted higher-order functions —
nested lambdas re-evaluate captured inputs per element with no CSE
(NOTES_r1: ~5 ms/doc), which makes them scale-weak as the heart of a
per-document operator. The hash kernels compute the IDENTICAL values
with vectorized numpy inside Arrow-batched pandas UDFs (the same fix
already applied to minhash in ``operators/dedup.py::_minhash_kernel``);
the Catalyst expressions remain the oracle-checkable spec, and
``tests/test_text_kernels.py`` pins kernel ≡ Catalyst equivalence.

Vectorization of the sequential hash: ``h = (h*B + c) % M`` over
codepoints is a loop over CHARACTER POSITIONS (≤ max doc/token length),
each step full-batch-wide — not a loop over documents. Codepoints come
from ``str.encode('utf-32-le')`` → zero-copy uint32 view, matching
Catalyst's ``ascii()`` codepoint semantics exactly. All arithmetic stays
< 2^53 (module invariant in text_funcs), so int64 never overflows.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from datalake_public_spark.functions.text_funcs import (
    HASH_BASE,
    HASH_SEED,
    LANG_MARKERS,
    M_FINGERPRINT,
    M_SIMHASH,
)


def _rolling_hash_np(strings: list[str], modulus: int) -> np.ndarray:
    """Vectorized ``h = (seed; h*B + codepoint) % M`` per string."""
    n = len(strings)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # Catalyst spec parity: Spark's split('', '') yields [''] and ascii('')
    # is 0, so an empty string hashes one zero code — not the bare seed
    zero = np.zeros(1, dtype=np.uint32)
    cps = [
        np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32) if s else zero
        for s in strings
    ]
    lens = np.fromiter((len(a) for a in cps), dtype=np.int64, count=n)
    h = np.full(n, HASH_SEED, dtype=np.int64)
    # Bucket by ceil-power-of-2 length before padding: a dense (n ×
    # max_len) matrix is quadratic under length skew — one whitespace-free
    # megadocument/token would pad EVERY row to its length and OOM the
    # worker. Per-bucket padding waste is ≤ 2×, so total memory is
    # O(total characters) regardless of skew.
    buckets: dict[int, list[int]] = {}
    for i, l in enumerate(lens):
        b = 1 << (int(l) - 1).bit_length() if l > 1 else 1
        buckets.setdefault(b, []).append(i)
    for width, idx_list in buckets.items():
        idxs = np.asarray(idx_list, dtype=np.int64)
        sub_lens = lens[idxs]
        mat = np.zeros((len(idxs), width), dtype=np.int64)
        for r, i in enumerate(idx_list):
            mat[r, : lens[i]] = cps[i]
        hh = np.full(len(idxs), HASH_SEED, dtype=np.int64)
        for j in range(width):
            active = j < sub_lens
            if not active.any():
                break
            hh = np.where(active, (hh * HASH_BASE + mat[:, j]) % modulus, hh)
        h[idxs] = hh
    return h


def _hash_segments(
    flat: np.ndarray, starts: np.ndarray, lens: np.ndarray, modulus: int
) -> np.ndarray:
    """Rolling hash of each (start, len) segment of ``flat`` — the same
    bucketed position-loop as ``_rolling_hash_np``, but the segment
    matrix is built by ONE vectorized gather per length bucket instead
    of a per-segment Python row fill."""
    m = len(starts)
    h = np.full(m, HASH_SEED, dtype=np.int64)
    if m == 0:
        return h
    order = np.argsort(lens, kind="stable")
    sorted_lens = lens[order]
    # bucket boundaries at ceil-power-of-2 jumps (memory ≤ 2× characters)
    widths = 1 << np.maximum(
        0, np.int64(np.ceil(np.log2(np.maximum(sorted_lens, 1))))
    )
    cut = np.flatnonzero(np.diff(widths)) + 1
    for seg in np.split(np.arange(m), cut):
        if len(seg) == 0:
            continue
        idxs = order[seg]
        width = int(widths[seg[0]])
        sub_lens = lens[idxs]
        pos = starts[idxs][:, None] + np.arange(width)[None, :]
        active_mask = np.arange(width)[None, :] < sub_lens[:, None]
        mat = flat[np.minimum(pos, len(flat) - 1)].astype(np.int64)
        mat[~active_mask] = 0
        hh = np.full(len(idxs), HASH_SEED, dtype=np.int64)
        for j in range(width):
            active = active_mask[:, j]
            if not active.any():
                break
            hh = np.where(active, (hh * HASH_BASE + mat[:, j]) % modulus, hh)
        h[idxs] = hh
    return h


def _simhash_np(texts: list[str]) -> np.ndarray:
    """Batch simhash32: per-token 32-bit rolling hash, per-bit ±1 majority
    vote per document. Round-6 vectorization: ONE utf-32 encode per DOC
    (the former per-token encode + Python split loop was ~60% of kernel
    time), token boundaries found as codepoint-32 run edges in numpy,
    token hashes via the bucketed segment-gather kernel, votes
    segment-summed back per doc. Values identical to the Catalyst spec
    (tests/test_text_kernels.py pins equivalence)."""
    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    bufs = [np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32) for s in texts]
    doc_lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    total = int(doc_lens.sum())
    if total == 0:
        return out  # zero tokens → all votes 0 → simhash 0 (matches Catalyst)
    flat = np.concatenate([b for b in bufs if len(b)])
    doc_at = np.repeat(np.arange(n, dtype=np.int64), doc_lens)
    nonspace = flat != 32  # tokens split on ASCII space ONLY (spec: split(' '))
    new_doc = np.empty(total, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = doc_at[1:] != doc_at[:-1]
    is_start = nonspace & (new_doc | ~np.concatenate(([True], nonspace[:-1])))
    # a position ends a token iff nonspace and (next is space/new doc/EOF)
    next_break = np.concatenate((new_doc[1:], [True]))
    is_end = nonspace & (next_break | ~np.concatenate((nonspace[1:], [True])))
    starts = np.flatnonzero(is_start)
    ends = np.flatnonzero(is_end)
    if len(starts) == 0:
        return out
    tok_lens = ends - starts + 1
    doc_of = doc_at[starts]
    th = _hash_segments(flat, starts, tok_lens, M_SIMHASH)
    # Per-bit ±1 majority without the tokens×32 int64 ±1 matrix (whose
    # construction + scatter was memory-bandwidth bound: ~2.3 GB of
    # traffic per 20k-doc batch, 85% of kernel time). M_SIMHASH = 2^32,
    # so each token hash IS its 32 bits: view as 4 little-endian bytes,
    # unpackbits to a tokens×32 uint8 (one C pass, 32 MB/1M tokens), and
    # segment-sum the ones per doc with reduceat — token rows arrive
    # doc-ordered by construction. votes = 2*ones - n_tokens.
    bits8 = np.unpackbits(
        th.astype(np.uint32).view(np.uint8).reshape(-1, 4),
        axis=1,
        bitorder="little",
    )
    seg = np.flatnonzero(np.concatenate(([True], doc_of[1:] != doc_of[:-1])))
    ones = np.add.reduceat(bits8, seg, axis=0, dtype=np.int64)
    n_tok = np.diff(np.append(seg, len(doc_of)))
    votes = 2 * ones - n_tok[:, None]
    weights = np.int64(1) << np.arange(32, dtype=np.int64)
    out[doc_of[seg]] = ((votes > 0) * weights).sum(axis=1)
    return out


# -- the per-doc text signal kernel ------------------------------------------
#
# Every per-doc text signal the text operators emit (operators/text.py and
# the driver's text_stats / text_lang_quality rows) is computed here, once
# per Arrow batch, in ONE mapInArrow pass: Spark does scan + distribution,
# the batch's token / gram / distinct / modal / marker math runs on the
# Arrow buffers via numpy + dictionary_encode, with no per-row Python. The
# Catalyst column factories in tests/text_spec.py are the equality oracle
# (tests/test_text_kernels.py); the DuckDB ``*_sql`` twins stay the
# cross-engine oracle.


def _int_ratio(
    numer: np.ndarray, denom: np.ndarray, digits: int = 6
) -> np.ndarray:
    """functions/arith.int_ratio_half_up twin over int64 arrays, 0.0
    where denom == 0 (callers either keep that 0.0, like the spec's
    coalesced repetition ratios, or mask those rows to NULL)."""
    scale = 10**digits
    numer = numer.astype(np.int64)
    denom = denom.astype(np.int64)
    safe = np.maximum(denom, 1)
    q = (2 * scale * numer + denom) // (2 * safe)
    return np.where(denom > 0, q / float(scale), 0.0)


def _first_of_runs(sorted_keys: np.ndarray) -> np.ndarray:
    """Mask of the first element of each run of equal sorted keys."""
    first = np.empty(len(sorted_keys), dtype=bool)
    first[:1] = True
    first[1:] = sorted_keys[1:] != sorted_keys[:-1]
    return first


def _token_gram_stats(tokens_list) -> tuple:
    """Per-doc (n_ws_tokens, n_uniq, n_grams, n_dup_grams, modal_best,
    concat_len, marker_hits) from an Arrow ListArray of space-split
    pieces (empties included — filtered here). Exact string identity via
    dictionary_encode; all per-doc reductions are numpy segment ops.

    ``concat_len`` is the sum of token codepoint lengths (==
    ``length(concat_ws('', toks))``); ``marker_hits`` is an (n ×
    len(LANG_MARKERS)) matrix in dict order (== ``size(filter(toks,
    isin(markers)))`` per language)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(tokens_list)
    offsets = np.frombuffer(tokens_list.buffers()[1], dtype=np.int32)[
        tokens_list.offset : tokens_list.offset + n + 1
    ].astype(np.int64)
    values = tokens_list.flatten()  # honors offset/length
    nonempty = np.asarray(
        pc.not_equal(values, "").to_numpy(zero_copy_only=False), dtype=bool
    )
    # token i belongs to doc doc_at[i]; doc_at is non-decreasing
    doc_at = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))[nonempty]
    denc = pc.dictionary_encode(values)
    codes = np.asarray(
        denc.indices.to_numpy(zero_copy_only=False), dtype=np.int64
    )[nonempty]
    tok_lens = np.asarray(
        pc.utf8_length(values).to_numpy(zero_copy_only=False), dtype=np.int64
    )[nonempty]
    n_toks = np.bincount(doc_at, minlength=n)
    # float64 sums of int lengths are exact far beyond any doc size
    cs = np.bincount(doc_at, weights=tok_lens, minlength=n).astype(np.int64)
    hits = np.zeros((n, len(LANG_MARKERS)), dtype=np.int64)
    n_uniq = np.zeros(n, dtype=np.int64)
    best = np.zeros(n, dtype=np.int64)
    n_grams = np.maximum(n_toks - 1, 0)
    n_dup = np.zeros(n, dtype=np.int64)
    if len(codes):
        for li, markers in enumerate(LANG_MARKERS.values()):
            mc = pc.index_in(
                pa.array(list(markers), type=denc.dictionary.type),
                value_set=denc.dictionary,
            )
            mcn = np.asarray(
                [m for m in mc.to_pylist() if m is not None], dtype=np.int64
            )
            if len(mcn):
                hits[:, li] = np.bincount(doc_at[np.isin(codes, mcn)], minlength=n)
        # distinct tokens + modal multiplicity: runs of equal (doc, code)
        # in one sorted int64 key — doc * K + code < 2^62, as both count
        # values of an int32-offset Arrow array
        K = int(codes.max()) + 1
        key = np.sort(doc_at * K + codes)
        starts = np.flatnonzero(_first_of_runs(key))
        run_doc = key[starts] // K
        n_uniq = np.bincount(run_doc, minlength=n)
        np.maximum.at(best, run_doc, np.diff(np.append(starts, len(key))))
        # 2-gram distinct count: adjacent same-doc pairs in ORIGINAL
        # token order, pair ids made dense so (doc, pair) fits one key
        adj = doc_at[1:] == doc_at[:-1]
        if adj.any():
            _, pair = np.unique(
                codes[:-1][adj] * K + codes[1:][adj], return_inverse=True
            )
            P = int(pair.max()) + 1
            gkey = np.sort(doc_at[:-1][adj] * P + pair)
            n_dup = n_grams - np.bincount(gkey[_first_of_runs(gkey)] // P, minlength=n)
    return n_toks, n_uniq, n_grams, n_dup, best, cs, hits


def _md5_hex_per_row(arr) -> list:
    """md5 hexdigest of each string's UTF-8 bytes, None for null — reads
    the Arrow data buffer directly (no per-row Python strings)."""
    import hashlib

    n = len(arr)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    buf = arr.buffers()[2]
    mv = memoryview(buf) if buf is not None else memoryview(b"")
    valid = np.ones(n, dtype=bool)
    if arr.null_count:
        import pyarrow.compute as pc

        valid = np.asarray(
            pc.is_valid(arr).to_numpy(zero_copy_only=False), dtype=bool
        )
    out: list = [None] * n
    md5 = hashlib.md5
    for i in range(n):
        if valid[i]:
            out[i] = md5(mv[offsets[i] : offsets[i + 1]]).hexdigest()
    return out


def _alnum_runs_from_arrow(arr) -> np.ndarray:
    """Count of maximal ``[a-z0-9]+`` runs per ALREADY-LOWERCASED string
    — the value of ``size(filter(split(s, '[^a-z0-9]+'), t != ''))``
    exactly: the regex split's pieces are the maximal alnum runs
    (leading/trailing/empty pieces are filtered), so counting run starts
    over the character class is the same number with no regex engine.

    Runs on the raw Arrow UTF-8 data buffer: the class is pure ASCII,
    and every byte of a multi-byte UTF-8 sequence is >= 0x80, so a
    byte-level mask is exactly the character-level mask. (Spark's regex
    split beside the PII regexps in one job measured ~10× slower for
    both — JVM-global java.util.regex interference, OPTIMIZATION_r13.md
    §text_stats.)"""
    n = len(arr)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    off0 = offsets - offsets[0]
    buf = arr.buffers()[2]
    if buf is None or offsets[-1] == offsets[0]:
        return np.zeros(n, dtype=np.int64)
    data = np.frombuffer(buf, dtype=np.uint8)[offsets[0] : offsets[-1]]
    alnum = ((data >= 97) & (data <= 122)) | ((data >= 48) & (data <= 57))
    starts = alnum.copy()
    starts[1:] &= ~alnum[:-1]
    # a run must start fresh at each string boundary
    first = off0[:-1][off0[:-1] < len(data)]
    starts[first] = alnum[first]
    cs = np.concatenate(([0], np.cumsum(starts)))
    return cs[off0[1:]] - cs[off0[:-1]]


def _utf8(arr):
    """Arrow string with int32 offsets (the buffer readers above)."""
    import pyarrow as pa

    return arr.cast(pa.string()) if pa.types.is_large_string(arr.type) else arr


_INT, _DOUBLE = IntegerType(), DoubleType()

#: every signal column of the kernel, in output order — (name, Spark type)
SIGNAL_FIELDS = (
    ("n_chars", _INT),
    ("n_bytes", _INT),
    ("n_ws_tokens", _INT),
    ("n_re_tokens", _INT),
    ("n_uniq_tokens", _INT),
    ("n_grams", _INT),
    ("dup_ngram_frac", _DOUBLE),
    ("top_token_frac", _DOUBLE),
    ("uniq_ratio", _DOUBLE),
    ("mean_tok_len", _DOUBLE),
    ("quality", _DOUBLE),
    ("pred_lang", StringType()),
    *((f"hits_{lang}", _INT) for lang in LANG_MARKERS),
)


def doc_signals_batch(text, lowered=None) -> dict:
    """Every per-doc signal of one Arrow string batch, each computed
    exactly once: char and byte length; whitespace-token, distinct,
    gram, duplicate-gram, modal and concat-length counts; language
    marker hits; the derived ratios and ``pred_lang``. ``n_re_tokens``
    (the ``[a-z0-9]+`` run count) is computed only when the caller
    passes ``lowered``, the JVM's ``lower(text)`` — Spark's ``lower``
    stays the one lowercase implementation.

    NULL algebra (the Catalyst spec's, value for value): NULL text gives
    NULL lengths, counts and marker hits, ``n_grams`` 0, ``pred_lang``
    'und', NULL ``uniq_ratio``/``mean_tok_len``/``quality``, and 0.0
    ``dup_ngram_frac``/``top_token_frac`` — the repetition ratios are
    coalesced to 0.0, the quality-score ratios are not. Zero-token text
    gives the same ratios. Through ``drop_reasons_from_signals`` a NULL
    text therefore fires ``too_short_chars``, ``too_short_tokens``,
    ``low_quality_score`` and (with ``langs``) ``lang_not_allowed``, but
    NOT ``repetitive_ngrams`` or ``modal_token_mass``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    text = _utf8(text)
    nulls = np.asarray(pc.is_null(text).to_numpy(zero_copy_only=False), dtype=bool)
    n_toks, n_uniq, n_grams, n_dup, best, cs, hits = _token_gram_stats(
        pc.split_pattern(pc.fill_null(text, ""), " ")
    )
    no_ratio = nulls | (n_toks == 0)
    p_quality = (
        10 * n_uniq + 10 * n_toks - np.minimum(np.abs(cs - 5 * n_toks), 10 * n_toks)
    )
    # argmax over dict order (first max wins — the CASE chain's
    # tie-break), 'und' on zero hits (NULL text has none)
    langs = np.array(list(LANG_MARKERS), dtype=object)
    pred = np.where(hits.max(axis=1) > 0, langs[hits.argmax(axis=1)], "und")

    def ints(vals):
        return pa.array(vals, type=pa.int32(), mask=nulls)

    def ratio4(numer, denom):
        return pa.array(_int_ratio(numer, denom, 4), type=pa.float64(), mask=no_ratio)

    out = {
        "n_chars": pc.utf8_length(text).cast(pa.int32()),
        "n_bytes": pc.binary_length(text).cast(pa.int32()),
        "n_ws_tokens": ints(n_toks),
        "n_uniq_tokens": ints(n_uniq),
        "n_grams": pa.array(n_grams, type=pa.int32()),
        "dup_ngram_frac": pa.array(_int_ratio(n_dup, n_grams), type=pa.float64()),
        "top_token_frac": pa.array(_int_ratio(best, n_toks), type=pa.float64()),
        "uniq_ratio": ratio4(n_uniq, n_toks),
        "mean_tok_len": ratio4(cs, n_toks),
        "quality": ratio4(p_quality, 20 * n_toks),
        "pred_lang": pa.array(pred, type=pa.string()),
        **{
            f"hits_{lang}": ints(hits[:, i])
            for i, lang in enumerate(LANG_MARKERS)
        },
    }
    if lowered is not None:
        out["n_re_tokens"] = ints(
            _alnum_runs_from_arrow(pc.fill_null(_utf8(lowered), ""))
        )
    return out


def pii_batch(text, pii: dict) -> dict:
    """Per-doc match counts of each ``pii`` pattern ({kind: RE2
    pattern}, in redaction order) and the md5 of the redacted text —
    pyarrow's RE2 is the engine the DuckDB oracle runs, and the patterns
    are alternation-free ASCII classes, so Java regex matches alike."""
    import pyarrow as pa
    import pyarrow.compute as pc

    text = _utf8(text)
    red = text
    for kind, pattern in pii.items():
        red = pc.replace_substring_regex(
            red, pattern=pattern, replacement=f"[{kind.upper()}]"
        )
    return {
        **{
            f"n_{kind}s": pc.count_substring_regex(text, pattern=pattern).cast(
                pa.int32()
            )
            for kind, pattern in pii.items()
        },
        "redacted_md5": pa.array(_md5_hex_per_row(red), type=pa.string()),
    }


#: prefix of the kernel's signal columns, so they never collide with a
#: kept input column (the documents table has its own ``n_chars``)
SIG = "__"


def signal_frame(
    docs: DataFrame,
    text_col: str = "text",
    *,
    keep: Sequence[str] = (),
    re_tokens: bool = False,
    pii: dict | None = None,
) -> DataFrame:
    """The one mapInArrow pass over ``doc_signals_batch``: ``docs``'
    ``keep`` columns pass through verbatim (same order, types and
    values), followed by every ``SIGNAL_FIELDS`` column named
    ``SIG + name`` (``n_re_tokens`` only with ``re_tokens``), then the
    ``pii_batch`` columns when ``pii`` is given. Map-only: no shuffle
    beyond ``widen_for_compute``'s round-robin for few-split scans."""
    from datalake_public_spark.sources.readers import widen_for_compute

    keep = list(keep)
    fields = [(n, t) for n, t in SIGNAL_FIELDS if re_tokens or n != "n_re_tokens"]
    if pii:
        fields += [(f"n_{kind}s", _INT) for kind in pii]
        fields.append(("redacted_md5", StringType()))
    names = [n for n, _ in fields]
    schema = StructType(
        [docs.schema[c] for c in keep] + [StructField(SIG + n, t) for n, t in fields]
    )
    src = widen_for_compute(docs).select(
        *keep,
        *([] if text_col in keep else [text_col]),
        *([F.lower(F.col(text_col)).alias(SIG + "lowered")] if re_tokens else []),
    )

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            text = batch.column(text_col)
            sig = doc_signals_batch(
                text, batch.column(SIG + "lowered") if re_tokens else None
            )
            if pii:
                sig.update(pii_batch(text, pii))
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep] + [sig[n] for n in names],
                names=schema.names,
            )

    return src.mapInArrow(fn, schema)


def _fingerprint256_fn(texts: pd.Series) -> pd.Series:
    # NULL text must stay NULL (the Catalyst spec and the DuckDB oracle
    # both propagate it); only non-null rows enter the kernel
    mask = texts.notna()
    out = pd.Series([pd.NA] * len(texts), dtype="Int64")
    if mask.any():
        prefixes = texts[mask].str.slice(0, 256)
        out[mask] = _rolling_hash_np(prefixes.tolist(), M_FINGERPRINT)
    return out


def _simhash32_fn(texts: pd.Series) -> pd.Series:
    mask = texts.notna()
    out = pd.Series([pd.NA] * len(texts), dtype="Int64")
    if mask.any():
        out[mask] = _simhash_np(texts[mask].tolist())
    return out


# pandas_udf registration needs an active SparkSession (PySpark 4), so the
# UDFs are built lazily on first use, then cached
_UDF_CACHE: dict[str, object] = {}


def _udf(name: str, fn):
    if name not in _UDF_CACHE:
        _UDF_CACHE[name] = pandas_udf("long")(fn)
    return _UDF_CACHE[name]


def fingerprint256_kernel(col: Column | str) -> Column:
    """Arrow twin of ``text_funcs.rolling_hash(substring(col, 1, 256))``."""
    return _udf("fp", _fingerprint256_fn)(col)


def simhash32_kernel(col: Column | str) -> Column:
    """Arrow twin of ``text_funcs.simhash32(col)``."""
    return _udf("sim", _simhash32_fn)(col)


# -- text normalization (the pre-tokenization cleaning pass) ---------------
#
# Fixed transformation chain, defined ONCE here and mirrored verbatim in
# NORMALIZE_SQL (DuckDB): NFC unicode normalization, CRLF->LF, control
# strip (keep \t \n), horizontal-whitespace collapse, space-trim around
# newlines, outer space trim. Patterns stay in the common subset of
# Python re and RE2 so both engines compile them identically.

_NORM_STEPS = (
    (r"\r\n", "\n"),
    (r"[\x00-\x08\x0b-\x1f\x7f]", ""),
    (r"[ \t]+", " "),
    (r" *\n *", "\n"),
)


def _normalize_fn(texts: pd.Series) -> pd.Series:
    import unicodedata

    mask = texts.notna()
    out = pd.Series([None] * len(texts), dtype="object")
    if mask.any():
        s = texts[mask].map(lambda t: unicodedata.normalize("NFC", t))
        for pat, rep in _NORM_STEPS:
            s = s.str.replace(pat, rep, regex=True)
        out[mask] = s.str.strip(" ")
    return out


def normalize_text_kernel(col: Column | str) -> Column:
    """Arrow-batched text normalization (NFC needs Python's unicodedata —
    Spark has no built-in NFC; everything else rides along in the same
    vectorized pass). NULL propagates."""
    if "norm" not in _UDF_CACHE:
        _UDF_CACHE["norm"] = pandas_udf("string")(_normalize_fn)
    return _UDF_CACHE["norm"](col)


def normalize_text_sql(col: str) -> str:
    """The identical chain as DuckDB SQL (nfc_normalize + RE2 global
    regexp_replace) — lockstep twin of ``normalize_text_kernel``. The
    replacement steps are spelled with escaped pattern literals (RE2
    resolves ``\\r``/``\\n``/``\\x..`` inside the pattern, so the SQL
    string needs no raw control bytes)."""
    expr = f"nfc_normalize({col})"
    steps_sql = (
        ("'\\r\\n'", "chr(10)"),
        ("'[\\x00-\\x08\\x0b-\\x1f\\x7f]'", "''"),
        ("'[ \\t]+'", "' '"),
        ("' *\\n *'", "chr(10)"),
    )
    for pat, rep in steps_sql:
        expr = f"regexp_replace({expr}, {pat}, {rep}, 'g')"
    return f"trim({expr}, ' ')"
