"""Text-analysis column functions (JVM-side, no UDFs).

Every function here is a pure Catalyst expression builder — tokenization,
shingling, rolling hashes, simhash — so the hot path stays inside
WholeStageCodegen with zero Python involvement (the "UDFs are the slow
path" rule). Each Spark builder has a ``*_SQL``/``*_sql`` twin producing
the semantically-identical DuckDB expression, used by the driver-contract
oracles; the pairs are kept adjacent so they can be reviewed for parity.
The per-doc signals (regex tokens, language-ID) run in production on the
Arrow signal kernel (text_kernels.signal_frame); their Catalyst
builders live with the kernel's equality oracle in tests/text_spec.py.

Hash design: polynomial rolling hash ``h = (h*131 + code) % M`` with
M=2^32 (simhash) or 2^45 (fingerprints). Deliberately *not* xxhash/md5:
plain modular arithmetic is exactly reproducible in any SQL engine, which
makes simhash and fingerprints oracle-checkable end-to-end. M keeps
``acc*131 + x`` < 2^53 so the math is overflow-free in 64-bit ints.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# moduli chosen so acc*131 + 0x10FFFF never overflows int64
M_SIMHASH = 2**32
M_FINGERPRINT = 2**45
HASH_BASE = 131
HASH_SEED = 7

# language marker words for the n-gram/stopword lang-ID heuristic;
# alphabetical lang order = deterministic tie-break order
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "von"),
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "los", "las", "y", "de"),
    "fr": ("le", "la", "les", "et", "des"),
    "zh": ("的", "是", "在", "了", "不"),
}

# BPE-ish word/number splitter (shared Java-regex/RE2 subset — keep simple)
TOKEN_REGEX = "[^a-z0-9]+"


# -- tokenization -----------------------------------------------------------


def tokens(col: str = "text") -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(F.col(col), " "), lambda t: t != "")


def tokens_sql(col: str = "text") -> str:
    return f"list_filter(string_split({col}, ' '), t -> t != '')"


def regex_tokens_sql(col: str = "text") -> str:
    """BPE-ish tokens: lowercase, split on non-alnum runs."""
    return f"list_filter(string_split_regex(lower({col}), '{TOKEN_REGEX}'), t -> t != '')"


# -- shingling --------------------------------------------------------------


def shingles_from_tokens(tok_col: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles (space-joined) from an ALREADY-BOUND
    token array column. <n tokens → empty array.

    Why the bound-column contract matters: the transform lambda reads
    the token array 3 (=n) times per shingle index, and interpreted
    HOFs re-evaluate captured child EXPRESSIONS per element — capturing
    the tokenize expression itself makes shingling O(tokens²) per
    document (measured 50.8s → 1.6s on 5k multi-KB docs). Bind tokens
    as a named column in a prior projection (CollapseProject keeps
    non-cheap multi-referenced aliases in their own stage), then the
    per-element re-read is a row-value lookup."""
    toks = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    size = F.size(toks)
    idx = F.when(size >= n, F.sequence(F.lit(1), size - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
    return F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", *parts(i))))


def shingles(col: str = "text", n: int = 3) -> Column:
    """Distinct n-token shingles straight from a text column. CONVENIENCE
    form for small inputs: it captures the tokenize expression inside
    the transform lambda, which interpreted HOF evaluation re-runs per
    shingle (O(tokens²)/doc). Hot paths must use the two-stage
    ``tokens`` → ``shingles_from_tokens`` form instead."""
    return shingles_from_tokens(tokens(col), n)


def shingles_sql(tok_col: str, n: int = 3) -> str:
    """DuckDB twin of ``shingles``. ``tok_col`` must be an already-computed
    list column (e.g. a CTE column built with ``tokens_sql``) — lambdas
    can't host correlated subqueries, so tokens are bound by name."""
    joined = " || ' ' || ".join(f"{tok_col}[i + {j}]" for j in range(n))
    return (
        f"list_distinct(list_transform(range(1, greatest(len({tok_col}) - {n - 1}, 0) + 1), "
        f"i -> {joined}))"
    )


# -- rolling hash / fingerprint --------------------------------------------


def rolling_hash(col: Column | str, modulus: int = M_FINGERPRINT) -> Column:
    """Polynomial rolling hash of a string column (char codepoints)."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        chars,
        F.lit(HASH_SEED).cast("long"),
        lambda acc, x: (acc * HASH_BASE + x) % modulus,
    )


def rolling_hash_sql(expr: str, modulus: int = M_FINGERPRINT) -> str:
    return (
        f"list_reduce(list_prepend({HASH_SEED}::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {modulus})"
    )


# -- simhash ----------------------------------------------------------------

_TOKEN_HASH = (
    "aggregate(transform(split(t, ''), c -> CAST(ascii(c) AS LONG)), "
    f"{HASH_SEED}L, (a2, x2) -> (a2 * {HASH_BASE} + x2) % {M_SIMHASH})"
)


def simhash32(col: str = "text") -> Column:
    """32-bit simhash over whitespace tokens, as one Catalyst expression.

    Per token: 32-bit rolling hash; per bit: majority vote of ±1 across
    tokens; result = bits with positive vote. Oracle-reproducible because
    the token hash is plain modular arithmetic (module docstring).

    Shape: single pass over the token-hash array with an array<long>
    accumulator of per-bit votes (4-arg aggregate with a finish lambda) —
    each token is hashed exactly once, instead of once per bit as the
    naive bit-outer/token-inner nesting would."""
    return F.expr(
        f"""
        aggregate(
          transform(filter(split({col}, ' '), t -> t != ''), t -> {_TOKEN_HASH}),
          array_repeat(0L, 32),
          (acc, h) -> zip_with(acc, sequence(0, 31),
                               (v, b) -> v + IF((h & shiftleft(1L, b)) > 0, 1L, -1L)),
          votes -> aggregate(
              zip_with(votes, sequence(0, 31),
                       (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)),
              0L, (x, y) -> x + y))
        """
    )


def simhash32_sql(col: str = "text") -> str:
    token_hash = (
        f"list_reduce(list_prepend({HASH_SEED}::BIGINT, "
        f"list_transform(string_split(tk, ''), c -> ascii(c)::BIGINT)), "
        f"(a2, x2) -> (a2 * {HASH_BASE} + x2) % {M_SIMHASH})"
    )
    return f"""
        list_reduce(
          list_prepend(0::BIGINT, range(0, 32)),
          (acc, b) -> acc + CASE WHEN
             list_sum(list_transform(
                list_transform({tokens_sql(col)}, tk -> {token_hash}),
                h -> CASE WHEN (h & (1::BIGINT << b)) > 0 THEN 1 ELSE -1 END)) > 0
          THEN (1::BIGINT << b) ELSE 0 END)
    """


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two int-encoded bit vectors."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


# -- language ID ------------------------------------------------------------


def lang_hits_sql(col: str, lang: str) -> str:
    """Count of marker-word hits for one language."""
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({tokens_sql(col)}, t -> t IN ({markers})))"


def language_id_sql(col: str = "text") -> str:
    """Predicted language: argmax marker hits, alphabetical tie-break,
    'und' when no hits."""
    hits = {lang: lang_hits_sql(col, lang) for lang in LANG_MARKERS}
    mx = f"greatest({', '.join(hits.values())})"
    whens = "\n".join(
        f"WHEN ({hits[lang]}) = ({mx}) AND ({mx}) > 0 THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"CASE {whens} ELSE 'und' END"
