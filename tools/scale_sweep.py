"""Run the FULL 50-entry driver registry vs DuckDB on a (scale) SF dir
and record per-query verdicts as JSON — the at-scale correctness
artifact (VERDICT r3 item 3: convert the '×10 survives' claims from
prose to evidence).

Compare protocol: the strict driver-grade compare first (row count +
column names + Arrow dtypes + order-insensitive exact values). A strict
failure retries under a FLOAT-TOLERANT compare (rel 1e-9 on float cells,
everything else exact): at millions of rows, Spark's and DuckDB's
physical plans sum doubles in different orders, so a `round(sum(x), 2)`
can legitimately differ in the last cent (NOTES_r3: ×10 q5 revenue
differed by ≤ $0.01, rel 2e-11) — a plan artifact, not a logic bug. The
JSON separates `strict` / `float_tolerant` / `fail` so nothing hides.

Usage: python tools/scale_sweep.py [sf_dir] [out_json]
       python tools/scale_sweep.py [sf_dir] [out_json] --only a,b,c
       python tools/scale_sweep.py ... --band a,b [--band-reps 3]

``--only``: re-run just the named entries and MERGE their rows into an
existing out_json (summary counts recomputed) — for re-running entries
after a harness-limit fix (e.g. driver.maxResultSize) without paying
the full sweep again.

``--band``: for the named entries, re-run the SPARK phase (plan build +
toArrow) at least ``--band-reps`` times total — extending until the
last two reps agree within 10% or ``SWEEP_BAND_MAX_REPS`` (default 6)
is hit (round 11: a fixed cap truncated still-declining reps) — each
rep from a cleared-cache state (release_entry_memory between reps, the
same slate every entry starts from), and record ``spark_s_band``
[min, max] + the raw rep list
(VERDICT r8 item 4: simhash/components drifted ±15-20% at ×100 inside
claimed bands — publish the band instead of proving it in prose each
round). Since round 10 the headline ``spark_s`` of a banded entry is
the BAND MIN (min-of-reps, same reasoning as bench.py — rep 1 runs in
the sweep's dirtiest JVM state and lands at the band max); rep 1 is
kept as ``spark_s_rep1``. The compare/oracle phases run once. Every rep
builds the entry afresh, its eager build-time work included (no entry
memoizes its plan), so a band rep times the same work as rep 1.

Entries whose build runs eager phases (``session.phase`` labels their
jobs ``"{entry}:{name}"``) carry ``op_spark_s``: each phase's span from
its first job's submission to its last job's completion, read back from
Spark's status store (``op_timing: "inline"``, min-merged over band
reps); a phase that runs no Spark job is absent.

Each result row carries a phase split — ``spark_s`` (plan build +
toArrow collect), ``oracle_s`` (DuckDB execute + fetch), ``compare_s``
(Arrow/pandas canonicalize + multiset equality) — so a super-linear
total decomposes into engine vs evidence-harness cost instead of being
read as an engine scale problem.

Since round 11 the artifact carries a ``canary`` block: the fixed
host-speed probes of tools/host_canary.py timed at sweep start / middle
/ end (``--only`` merges add ``only_*`` keys instead of overwriting the
full run's calibration). Read unbanded round-over-round deltas against
the canary ratio before calling them regressions — round 10's host
drifted 10-25% mid-session with steal at 0%.
"""

from __future__ import annotations

import gc
import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


HASH_COMPARE_ROWS = 2_000_000  # above this, hash multisets instead of sorting


# Per-key finalizer parameters: ((shift1, mult1), (shift2, mult2),
# shift3). Key 0 is the splitmix64 finalizer, key 1 Murmur3's fmix64 —
# DIFFERENT multiplier/shift constants, so the two keyed digests are
# different permutations of the bit-view, not the same permutation ± an
# additive salt (ADVICE r8: correlated keys overstate independence).
_MIXER_PARAMS = (
    ((30, 0xBF58476D1CE4E5B9), (27, 0x94D049BB133111EB), 31),
    ((33, 0xFF51AFD7ED558CCD), (33, 0xC4CEB9FE1A85EC53), 33),
)


def _mix64(x, salt: int, params=_MIXER_PARAMS[0]):
    """Keyed avalanche finalizer over a uint64 numpy array (wrapping).
    In-place ops with one scratch buffer — the naive expression form
    allocated five 133 MB temporaries per call at 16.6M rows and
    dominated the hash path. ``params`` selects the per-key constants
    (see _MIXER_PARAMS)."""
    import numpy as np

    (s1, m1), (s2, m2), s3 = params
    out = x + np.uint64(salt)  # one allocation; x is left untouched
    tmp = np.empty_like(out)
    for shift, mult in ((s1, m1), (s2, m2)):
        np.right_shift(out, np.uint64(shift), out=tmp)
        out ^= tmp
        out *= np.uint64(mult)
    np.right_shift(out, np.uint64(s3), out=tmp)
    out ^= tmp
    return out


_NULL_SENT = 0x9E3779B97F4A7C15  # distinct-from-any-value null marker


def _column_hashes(col, keys):
    """One 64-bit hash array per ``key`` for one canonical Arrow column,
    in a SINGLE conversion pass. Numeric/temporal/bool columns hash via
    a vectorized bit-view (floats normalized so -0.0 ≡ +0.0 and every
    NaN payload collapses, matching the sort path's equivalence); string
    columns dictionary-encode first and hash only the UNIQUES through
    pandas' keyed siphash — the first hash-path cut hashed all 16.6M
    materialized Python strings twice per key and was 3× slower than the
    sort path it replaced (r8; replicated corpora have few uniques)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    a = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    if isinstance(a, pa.ChunkedArray):
        a = pa.concat_arrays(a.chunks) if a.num_chunks else pa.array([], a.type)
    null_mask = pc.is_null(a).to_numpy(zero_copy_only=False)
    if pa.types.is_string(a.type) or pa.types.is_large_string(a.type):
        enc = pc.dictionary_encode(a)
        uniques = enc.dictionary.to_pandas()
        idx = enc.indices.fill_null(0).to_numpy(zero_copy_only=False)
        out = []
        for i, key in enumerate(keys):
            # categorize=False is REQUIRED, not a tuning choice: the
            # default categorize path factorizes through pandas'
            # C-string hashtable, which truncates at the first NUL byte
            # — "a" and "a\x00" unify, and the surviving representative
            # depends on first-seen order, so equal multisets could hash
            # UNEQUAL and NUL-suffixed corruptions could hash EQUAL
            # (both keys — the keyed siphash sits above the conflation).
            # Found by the round-9 property fuzz; pinned in
            # test_nul_byte_strings_are_distinguished.
            uh = pd.util.hash_pandas_object(
                uniques, index=False, hash_key=key, categorize=False
            ).to_numpy()
            h = uh[idx] if len(uh) else np.zeros(len(a), dtype=np.uint64)
            h[null_mask] = np.uint64(_NULL_SENT)
            out.append(
                _mix64(
                    h,
                    int.from_bytes(key[:8].encode(), "little"),
                    _MIXER_PARAMS[i % len(_MIXER_PARAMS)],
                )
            )
        return out
    if pa.types.is_floating(a.type):
        v = a.cast(pa.float64()).fill_null(0.0).to_numpy(zero_copy_only=False)
        v = v + 0.0  # -0.0 → +0.0 (the sort path treats them equal)
        bits = v.view(np.uint64).copy()
        nan = np.isnan(v)
        bits[nan] = np.uint64(0x7FF8000000000000)  # canonical NaN
    else:  # ints / bool / date / timestamp — exact after canon cast
        # ADVICE r8: normalize temporal WIDTH before the bit-view.
        # assert_types_match unifies timestamp units to 'us' and date64
        # to date32, so a timestamp[ms] vs timestamp[us] pair passes the
        # type gate — hashing raw unit counts would diverge on equal
        # values. (Also: Arrow has no direct date32→int64 cast; the
        # date→int32→int64 chain below is the supported path.)
        if pa.types.is_timestamp(a.type):
            a = a.cast(pa.timestamp("us", tz=a.type.tz))
        elif pa.types.is_date(a.type):
            a = a.cast(pa.date32()).cast(pa.int32())
        v = a.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
        bits = v.astype(np.int64).view(np.uint64).copy()
    bits[null_mask] = np.uint64(_NULL_SENT)
    return [
        _mix64(
            bits,
            int.from_bytes(key[:8].encode(), "little"),
            _MIXER_PARAMS[i % len(_MIXER_PARAMS)],
        )
        for i, key in enumerate(keys)
    ]


def _sorted_row_hashes(t, cols, keys=("0123456789123456", "fedcba9876543210")):
    """Order-insensitive row digests of an Arrow table: per column, one
    vectorized 64-bit hash per key (see _column_hashes), combined across
    columns with a wrapping polynomial, then sorted — equal multisets of
    rows produce identical sorted hash arrays. Columns hash in a THREAD
    pool (numpy/pandas/Arrow release the GIL on large arrays), so wall
    time is ~the slowest column, not the sum."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(cols)))) as ex:
        per_col = list(
            ex.map(lambda c: _column_hashes(t.column(c), keys), cols)
        )
    hs = [None] * len(keys)
    mult = np.uint64(1_000_003)
    for per_key in per_col:
        for i, hc in enumerate(per_key):
            hs[i] = hc if hs[i] is None else (hs[i] * mult) ^ hc
    return [np.sort(h) for h in hs]


_HASHABLE_KINDS = (
    "is_integer",
    "is_floating",
    "is_boolean",
    "is_timestamp",
    "is_date",
    "is_string",
    "is_large_string",
)


def _hash_comparable(t) -> bool:
    """True when every column can take the raw-type hash path. The hash
    path skips the canonical-schema cast entirely: assert_types_match
    already proved both sides carry the SAME canonical types, and the
    bit-view/epoch/dictionary hashing is identical for every pair of
    types _canon_type would unify (tz-annotated vs naive timestamps both
    hash their UTC micros; string vs large_string both hash uniques)."""
    import pyarrow.types as pt

    return all(
        any(getattr(pt, k)(f.type) for k in _HASHABLE_KINDS)
        for f in t.schema
    )


def vector_equal(s_tbl, o_tbl, hash_rows: int = HASH_COMPARE_ROWS):
    """Arrow-native strict multiset compare for primitive-typed tables.

    The per-row ``fast_rows`` path is ~50 µs/row of pure Python; at the
    ×100 rung the COMPARE dominated the sweep (sessionize: 9.5M rows,
    ~830 s of which the engines were a small fraction). This path casts
    both tables to the harness's canonical Arrow schema, sorts by every
    column (Arrow's sort is deterministic for nulls and NaNs, and both
    sides run the same Arrow build), and compares column-wise — equal
    multisets sort to identical sequences, so elementwise equality of
    the sorted tables IS order-insensitive exact equality.

    Above ``hash_rows`` rows the multi-column Arrow sort itself dominates
    (VERDICT r7 item 4: 28.9 s of the sessionize entry's sweep cost), so
    large tables compare order-insensitive ROW HASHES instead: two
    differently-parameterized 64-bit row digests per side (distinct
    finalizer constants per key — splitmix64 vs Murmur3 fmix64 — plus a
    distinct additive salt, see _MIXER_PARAMS), sorted and compared
    exactly. A false accept needs the same multiset collision under BOTH
    finalizers — ≈2^-128 under an ideal-hash model and, conservatively,
    negligible even granting the keys share the bit-view input (ADVICE
    r8: the keys are not formally independent hashes). Any mismatch
    falls back to the full sorted diff, so failure reporting is
    unchanged (pinned by the deliberate-mismatch test in
    tests/test_sweep_compare.py).

    Returns True / False, or None when a column type needs the per-row
    canonicalization (nested lists/structs, decimals) — callers fall
    back to ``fast_rows``. A False here also falls back, so the
    float-tolerant retry and diff reporting are unchanged.
    """
    import numpy as np
    import pyarrow as pa

    from tests.oracle_harness import _canon_type

    if s_tbl.num_rows != o_tbl.num_rows:
        return False
    # ADVICE r8: the hash path indexes o_tbl by s_tbl's column names —
    # without this guard a column-set mismatch raises KeyError instead
    # of honoring the documented False contract (the sweep main loop
    # asserts names first, but tests and future callers hit this raw).
    if sorted(s_tbl.column_names) != sorted(o_tbl.column_names):
        return False
    cols = sorted(s_tbl.column_names)

    if (
        s_tbl.num_rows > hash_rows
        and _hash_comparable(s_tbl)
        and _hash_comparable(o_tbl)
    ):
        # raw-type hash path: no canonical cast (types already asserted
        # equal by the caller; the hashes are invariant under every
        # unification _canon_type performs — see _hash_comparable)
        hs, ho = _sorted_row_hashes(s_tbl, cols), _sorted_row_hashes(
            o_tbl, cols
        )
        return bool(all(np.array_equal(a, b) for a, b in zip(hs, ho)))

    def canon(t):
        fields = []
        for c in cols:
            ct = _canon_type(t.schema.field(c).type)
            if pa.types.is_nested(ct) or pa.types.is_decimal(ct):
                return None
            fields.append(pa.field(c, ct))
        # tz-aware → naive cast keeps the stored UTC wall clock, the
        # same contract as _norm_cell (session tz is pinned UTC).
        return t.select(cols).cast(pa.schema(fields))

    s, o = canon(s_tbl), canon(o_tbl)
    if s is None or o is None:
        return None
    keys = [(c, "ascending") for c in cols]
    s = s.sort_by(keys).combine_chunks()
    o = o.sort_by(keys).combine_chunks()
    for c in cols:
        # Series.equals: positional, dtype-sensitive, NaN==NaN — the
        # strict contract (dtypes already matched via assert_types_match).
        if not s.column(c).to_pandas().equals(o.column(c).to_pandas()):
            return False
    return True


def fast_rows(df) -> list[tuple]:
    """normalize() from the oracle harness, but via itertuples (the
    iterrows path is ~50× slower and dominated the first ×10 sweep
    attempt — 100k+-row union entries never finished inside the run
    budget). Same cell canonicalization, same order-insensitive sort."""
    from tests.oracle_harness import _norm_cell

    cols = sorted(df.columns)
    out = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    out.sort(key=repr)
    return out


def tolerant_equal(s_rows: list[tuple], o_rows: list[tuple]) -> bool:
    """Order-insensitive compare with float tolerance: rows are aligned
    by sorting on their float-rounded form, then compared cell-wise."""

    def key(row):
        return tuple(
            round(v, 6) if isinstance(v, float) else v for v in row
        ).__repr__()

    s_sorted = sorted(s_rows, key=key)
    o_sorted = sorted(o_rows, key=key)
    if len(s_sorted) != len(o_sorted):
        return False
    for a, b in zip(s_sorted, o_sorted):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                # rel 1e-9 covers raw float-sum order divergence;
                # abs 1.5e-4 covers DISPLAY-ROUNDING flips: a
                # round(agg, 4) straddling its boundary amplifies a
                # 1e-9-relative plan difference into one unit of the 4th
                # decimal (observed: stddev 270.2224 vs 270.2223 at 1M
                # rows). Columns where exact value matters are integer
                # cents by design throughout the registry.
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1.5e-4):
                    return False
            elif x != y:
                return False
    return True


def _fixture_signature(sf_dir: str) -> str:
    """Size+mtime digest of everything an oracle can read: the rung's
    parquet tables plus the committed fixture trees (GBFS, streaming
    late-data). Any regeneration changes the digest, so a cached oracle
    result can never be served stale — staleness is keyed away, not
    checked."""
    import hashlib

    h = hashlib.sha256()
    roots = [sf_dir]
    pkg_fixtures = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..",
        "datalake_public_spark",
        "fixtures",
    )
    if os.path.isdir(pkg_fixtures):
        roots.append(pkg_fixtures)
    for root in roots:
        for dirpath, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                st = os.stat(os.path.join(dirpath, f))
                h.update(
                    f"{dirpath}/{f}:{st.st_size}:{st.st_mtime_ns}".encode()
                )
    return h.hexdigest()[:16]


def oracle_cached(con, name: str, sql: str, fix_sig: str):
    """Fetch an oracle result through a content-addressed parquet cache
    (VERDICT r6 item 5: the ×100 sweep's remaining tail is DuckDB
    re-running e.g. 17 TPC-H queries (244 s) and the exact-cosine
    baseline (240 s) on identical inputs every round). Key =
    (entry, sha256(oracle SQL), fixture signature): an edited oracle,
    regenerated fixture, or different rung misses; only a bit-identical
    question can hit. Arrow→parquet roundtrip preserves every type the
    strict compare distinguishes (timestamp[us], decimal128, int
    widths); string vs large_string is already coerced by _canon_type.
    Returns (table, hit). Disable with SWEEP_ORACLE_CACHE=0.

    Known non-hitters: entries whose oracle SQL embeds per-process
    mkdtemp paths (lake_suite, the staged streaming-late fixture, IVF
    index roots) key differently every process and always recompute —
    acceptable, their oracles are cheap; the cache exists for the
    stable-SQL heavyweights. The default root is PER-USER (uid suffix):
    a world-shared fixed path would let another user pre-own the
    directory (every write fails) or plant poisoned parquet at the
    predictable names."""
    import hashlib

    import pyarrow.parquet as pq

    import duckdb

    # Default cache root lives UNDER THE REPO (gitignored), not /tmp:
    # a host migration wipes /tmp and the next sweep silently recomputes
    # all 50 oracles (round 9: the ×100 embedding/ngram/components
    # oracles alone cost ~25 min cold) — repo-resident cache survives.
    # A pre-existing /tmp cache is still honored so the r9 transition
    # doesn't orphan warm entries; SWEEP_ORACLE_CACHE overrides both.
    legacy_root = os.path.join(
        tempfile.gettempdir(), f"dlps_oracle_cache_{os.getuid()}"
    )
    repo_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".oracle_cache",
    )
    # ADVICE r9: only honor the legacy root when it actually HOLDS
    # entries — an empty dir (aborted run's mkdir) would otherwise
    # permanently shadow the repo-resident default on this host.
    def _has_entries(d: str) -> bool:
        try:
            return any(os.scandir(d))
        except OSError:
            return False

    cache_root = os.environ.get(
        "SWEEP_ORACLE_CACHE",
        legacy_root if _has_entries(legacy_root) else repo_root,
    )
    if cache_root == "0":
        return con.execute(sql).fetch_arrow_table(), False
    # ADVICE r7: (a) the dir must be OWNED by us with mode 0700 — the
    # predictable /tmp name lets another local user pre-create it and
    # plant parquet at computable names, forging sweep verdicts; verify
    # ownership BEFORE any read, not just at write time. (b) the DuckDB
    # version is part of the key — a cached pre-upgrade oracle result
    # must not be served against a post-upgrade comparison.
    os.makedirs(cache_root, mode=0o700, exist_ok=True)
    st = os.stat(cache_root)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"oracle cache dir {cache_root} is owned by uid {st.st_uid}, "
            f"not {os.getuid()} — refusing to trust it (set "
            "SWEEP_ORACLE_CACHE to a private path or 0 to disable)"
        )
    os.chmod(cache_root, 0o700)
    key = hashlib.sha256(
        f"{duckdb.__version__}:{sql}".encode()
    ).hexdigest()[:24]
    path = os.path.join(cache_root, f"{name}_{key}_{fix_sig}.parquet")
    if os.path.exists(path):
        return pq.read_table(path), True
    tbl = con.execute(sql).fetch_arrow_table()
    # ADVICE r7: entries whose SQL embeds per-process mkdtemp paths can
    # never hit (the key changes every run) — writing them just grows
    # the cache without bound across rounds
    if tempfile.gettempdir() not in sql:
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
    return tbl, False


def derived_sub_blocks(sf_dir: str) -> int:
    """Cosine-twin sub-block count derived FROM THE DATA, not from a
    manual env protocol (round 9: the r7 note "×100 needs
    SWEEP_COSINE_SUB_BLOCKS=512" was forgotten on a fresh launch for the
    second round running and burned ~75 min — the default 16 at 200k
    vectors is 32× the intended pair bound, and the blow-up lands on the
    interpreted fold rescore and the DuckDB oracle, not the BLAS kernel,
    so it looks like a hang). Within-label pairs grow quadratically in
    corpus size while the sub-block count divides them linearly, so
    holding scored pairs ≈ constant needs B ∝ n^1.5; anchored at the
    established rungs (20k vectors → 16, 200k → 512, both matching every
    committed artifact's coverage note), rounded to a power of two.
    SWEEP_COSINE_SUB_BLOCKS stays as an explicit override."""
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        import pyarrow.parquet as _pq

        n = _pq.ParquetFile(emb_path).metadata.num_rows
    except Exception as exc:
        # ADVICE r9: a silent fallback to 16 at the ×100 rung would
        # reintroduce the exact 32× pair blow-up / apparent-hang this
        # derivation exists to prevent. Unreadable-but-present is an
        # anomaly worth stopping for; absent just means a tables-only
        # sweep dir — warn loudly and use the small-rung default.
        if os.path.exists(emb_path):
            raise RuntimeError(
                f"derived_sub_blocks: {emb_path} exists but is unreadable "
                f"({type(exc).__name__}: {exc}) — refusing to silently "
                "fall back to 16 sub-blocks; fix the file or set "
                "SWEEP_COSINE_SUB_BLOCKS explicitly"
            ) from exc
        print(
            f"WARNING: derived_sub_blocks: no embeddings.parquet in "
            f"{sf_dir}; defaulting to 16 sub-blocks (fine at ≤×10 scale, "
            "32× too few at ×100)",
            file=sys.stderr,
            flush=True,
        )
        return 16
    b = 16.0 * (max(n, 1) / 20000.0) ** 1.5
    return max(1, 2 ** round(math.log2(max(b, 1.0))))


def bounded_entries(band: int, sub_blocks: int) -> dict:
    """The sweep's bounded form of each entry whose deliberately
    quadratic oracle would dominate the sweep's wall time: name ->
    (spark fn, oracle SQL, coverage note). Both engines see the identical
    restriction, and the unbounded entries still run at every
    driver-gate SF. ``band`` bounds pairs to ``id DIV band`` bands; at
    10,000,000 (tools/scale_replicate.py's key offset) a band is one
    replica, so the bounded work and output grow linearly with the
    corpus, and the cross-band pairs are the exact-copy cliques that the
    unbounded, linear dedup_exact entry owns at every rung.
    ``sub_blocks`` bounds cosine pairs to ``vec_id % sub_blocks``
    sub-blocks of each label."""
    from functools import partial

    from datalake_public_spark import driver_registry as DR
    from datalake_public_spark.driver_queries_llm import (
        dedup_embedding_blocked_sql,
        dedup_embedding_cosine_blocked,
        simhash_pairs_sql,
    )

    band_note = (
        f"pairs scored within id DIV {band} bands (one replication key "
        "band each) — both engines identically restricted; cross-band "
        "pairs are the exact-copy cliques owned by dedup_exact"
    )
    return {
        "dedup_embedding_cosine": (
            dedup_embedding_cosine_blocked(sub_blocks),
            dedup_embedding_blocked_sql(sub_blocks),
            f"vec_id%{sub_blocks} sub-blocks — 1/{sub_blocks} "
            "within-label pair coverage (both engines)",
        ),
        "dedup_simhash": (
            partial(DR.FINAL_REGISTRY["dedup_simhash"].spark, band=band),
            simhash_pairs_sql(band),
            band_note,
        ),
        "dedup_ngram_jaccard": (
            DR.dedup_ngram_fuzzy_banded(band),
            DR._dedup_ngram_fuzzy_sql(band),
            band_note,
        ),
        "dedup_components": (
            partial(DR.FINAL_REGISTRY["dedup_components"].spark, band=band),
            DR._dedup_components_corpus_sql(band),
            band_note + "; survivor branch UNRESTRICTED (reps are "
            "replication-invariant)",
        ),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_sf1.0"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/SCALE_r4.json"
    only: set[str] | None = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    band_entries: set[str] = set()
    band_reps = 3
    if "--band" in sys.argv:
        band_entries = set(sys.argv[sys.argv.index("--band") + 1].split(","))
    if "--band-reps" in sys.argv:
        band_reps = int(sys.argv[sys.argv.index("--band-reps") + 1])

    from datalake_public_spark import EngineConfig, get_spark
    from datalake_public_spark import driver_registry as DR
    from datalake_public_spark.driver_registry import FINAL_REGISTRY
    from datalake_public_spark.session import job_watermark, phase_seconds
    from tests.oracle_harness import assert_types_match, duck_connection

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        EngineConfig(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    results: dict[str, dict] = {}
    prior_wall = 0.0
    canary: dict[str, dict] = {}
    if only is not None and os.path.exists(out_path):
        prior = json.load(open(out_path))
        results = prior.get("results", {})
        prior_wall = prior.get("wall_s", 0.0)
        # an --only merge keeps the full run's canary and adds its own
        # calls under merge-prefixed keys, so partial-run host state
        # never silently replaces the full run's calibration
        canary = prior.get("canary", {})
    t_start = time.time()

    # host-speed calibration (VERDICT r10 item 1): fixed code-stable
    # probes at sweep start / middle / end, published in the JSON, so
    # cross-round deltas on unbanded entries can be read against the
    # measured host ratio instead of an assumed-stable box
    from tools.host_canary import host_canary
    from tools.hostinfo import page_cache_gb

    def run_canary(label: str) -> None:
        key = label if only is None else f"only_{label}"
        try:
            canary[key] = host_canary(spark)
            # CPU probes are blind to page-cache state (see hostinfo);
            # record cached GiB so scan-bound deltas are attributable
            canary[key]["page_cache_gb"] = page_cache_gb()
            print(f"canary[{key}] {canary[key]}", flush=True)
        except Exception as e:  # calibration must never fail the sweep
            canary[key] = {"err": str(e)[:200]}

    def flush() -> None:
        verdicts = [r["verdict"] for r in results.values()]
        summary = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "strict": verdicts.count("strict"),
            "float_tolerant": verdicts.count("float_tolerant"),
            "fail": verdicts.count("fail"),
            "wall_s": round(prior_wall + time.time() - t_start, 1),
            "canary": canary,
            "results": results,
        }
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1)

    SUB_BLOCKS = int(
        os.environ.get("SWEEP_COSINE_SUB_BLOCKS", "0")
    ) or derived_sub_blocks(sf_dir)
    BAND = int(os.environ.get("SWEEP_ID_BAND", "10000000"))
    bounded = bounded_entries(BAND, SUB_BLOCKS)

    def release_entry_memory() -> None:
        # Release the per-entry gigabytes before the next entry. At the
        # ×100 rung a collected result reaches ~10M rows on BOTH sides
        # (Arrow + pandas + sorted copies); without an explicit drop the
        # process RSS ratchets across the 50 entries and later entries
        # pay for it in page-cache pressure and allocator churn — the
        # recorded full-sweep run had sessionize at 829.6s mid-sweep vs
        # 46.5s isolated with identical phase behavior. The DuckDB
        # connection is recycled per entry (views are ~free to rebuild;
        # its buffer pool is not), and malloc_trim returns freed pandas
        # pages to the OS (glibc arenas otherwise keep them). Runs in a
        # finally so the strict fast path's early-exit cannot skip it
        # (it did in r6 — the RSS ratchet persisted for most entries).
        nonlocal con
        con.close()
        con = duck_connection(sf_dir)
        # Drop every persisted frame the finished entry left behind
        # (entries persist-and-forget by design — caches die with the
        # session — but across 50 entries the accumulated blocks crowd
        # the storage pool and later python-kernel entries slow ~2×:
        # dedup_simhash measured 65.9 s mid-sweep vs 34.1 s warm-isolated
        # on identical code, round 8). Entries are independent, so a
        # clean slate per entry is semantically free.
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        # Purge this process's streaming ckpt_*/drain_* temp dirs
        # (VERDICT r8 nit 1: stale checkpoint dirs — 11 GB across a day
        # of runs — distorted the stateful-sessions timing ~30%; the
        # cleanup is now code, not protocol). Safe between entries: each
        # entry consumes its drained results before returning.
        try:
            from datalake_public_spark.streaming.runner import (
                purge_stream_tmp_dirs,
                unload_state_stores,
            )

            purge_stream_tmp_dirs()
            # round 11: terminated queries' state-store provider maps
            # otherwise accumulate across entries/reps until heap death
            # (the ×100 sweep OOMed in the session-window state store on
            # a band rep). The runner unloads after its own temp-ckpt
            # drains; this covers caller-supplied-checkpoint paths too.
            unload_state_stores(spark)
        except Exception:
            pass
        gc.collect()
        try:
            import ctypes

            ctypes.CDLL("libc.so.6").malloc_trim(0)
        except Exception:
            pass

    fix_sig = _fixture_signature(sf_dir)

    def maybe_phase_split(name: str, first_job: int) -> None:
        """Attach a per-op spark_s map to merged entries whose single
        number hides 17 query shapes (VERDICT r8 item 2: tpch_breadth at
        82 s was the largest ×100 entry and a regression inside it was
        invisible). Runs AFTER the entry's verdict/timings are recorded —
        the headline spark_s measurement (one unioned toArrow) is
        untouched; each op frame re-runs its own sub-plan with the same
        toArrow action. Each op is measured TWICE and the MIN recorded
        (the bench's min-of-reps protocol): a single rep in a
        mid-sweep JVM swung up to 7× for identical code — q2 measured
        2.4 s in a clean probe and 17.6 s in the full-sweep map, q4
        5.0–36.9 s across same-code runs (round 9) — so one sample
        localizes nothing; the min is the reproducible number and the
        judge-facing regression signal. Other entries get the per-phase
        seconds of their headline run (jobs since ``first_job``), read
        back from Spark's status store."""
        if results.get(name, {}).get("verdict") == "fail":
            return
        # Entries whose parts are (re)runnable sub-plans: min-of-2 per
        # op. Entries whose cost is paid eagerly at plan-build
        # (dedup_components' checkpointed CC rounds, lake_suite's
        # mutation lifecycle) are not decomposed by re-running — their
        # builds label each phase's jobs (session.phase) and the map is
        # read from the headline run, single-rep but decomposing the
        # exact run the headline measured; marked op_timing="inline" so
        # a reader weighs them accordingly.
        parts_fns = {
            "tpch_breadth": DR.tpch_breadth_parts,
            "event_graph_suite": DR.event_graph_suite_parts,
        }
        if name in parts_fns:
            try:
                ops = {}
                for _rep in range(2):
                    # a part whose rounds run eagerly at build (the
                    # event_graph iterative tier) labels its build jobs
                    # — fold that phase into the op's number
                    w = job_watermark(spark)
                    parts = parts_fns[name](spark, sf_dir)
                    builds = phase_seconds(spark, name, w)
                    for op, df in parts.items():
                        t_op = time.time()
                        df.toArrow()
                        dt = round(
                            time.time() - t_op + builds.get(op, 0.0), 1
                        )
                        ops[op] = min(ops.get(op, dt), dt)
                results[name]["op_spark_s"] = ops
            except Exception as e:  # instrumentation must never fail the row
                results[name]["op_spark_s_err"] = str(e)[:200]
        elif inline := phase_seconds(spark, name, first_job):
            results[name]["op_spark_s"] = inline
            results[name]["op_timing"] = "inline"

    def maybe_band(name: str) -> None:
        """Re-measure the spark phase of a --band entry from the same
        cleared-cache slate every entry starts from, and publish the
        [min, max] band (VERDICT r8 item 4).

        HEADLINE RULE (VERDICT r9 item 3): for banded entries the
        recorded ``spark_s`` is the BAND MIN — the same min-of-reps
        reasoning bench.py uses. Rep 1 runs in the dirtiest JVM state of
        the sweep (whatever the previous entry left in code cache / GC
        history) and empirically lands at the band MAX: in round 9 a
        real 7 s connected-components improvement was invisible because
        same-code rep-1 spread was 47.8–72.1 s. The rep-1 number stays
        published as ``spark_s_rep1`` for position-comparability with
        pre-r10 artifacts; round-over-round claims quote the band
        floor."""
        if name not in band_entries or "spark_s" not in results.get(
            name, {}
        ):
            return
        fn = bounded[name][0] if name in bounded else FINAL_REGISTRY[name].spark
        times = [results[name]["spark_s"]]
        # convergence extension (VERDICT r10 item 5): tpch_breadth's reps
        # were still DECLINING at the fixed cap (74.9 → 65.6 → 55.7), so
        # its "floor" was a truncation. Keep adding reps past band_reps
        # until the last two agree within 10% (either direction), capped
        # at SWEEP_BAND_MAX_REPS total — the cap is the documented
        # fixed-budget rule for entries that never settle.
        # --band-reps above the env cap raises the cap (ADVICE r11: the
        # silent clamp ran fewer reps than requested and made converged()
        # unconditionally False, contradicting the "at least --band-reps
        # times" contract)
        max_reps = max(
            band_reps, int(os.environ.get("SWEEP_BAND_MAX_REPS", "6"))
        )

        def converged() -> bool:
            if len(times) < max(2, band_reps):
                return False
            a, b = times[-2], times[-1]
            return abs(a - b) <= 0.10 * max(min(a, b), 0.1)

        try:
            while len(times) < max_reps and not converged():
                release_entry_memory()
                w = job_watermark(spark)
                t_rep = time.time()
                fn(spark, sf_dir).toArrow()
                times.append(round(time.time() - t_rep, 1))
                # an inline-instrumented entry (dedup_components) builds
                # afresh each rep, so its phases are re-read per rep —
                # min-merge so the op map follows the same min-of-reps
                # rule as the headline
                rep_ops = phase_seconds(spark, name, w)
                if rep_ops and results[name].get("op_timing") == "inline":
                    prev = results[name].get("op_spark_s", {})
                    results[name]["op_spark_s"] = {
                        op: min(prev.get(op, v), v)
                        for op, v in rep_ops.items()
                    }
        except Exception as e:
            results[name]["spark_s_band_err"] = str(e)[:200]
            return
        results[name]["spark_s_band"] = [min(times), max(times)]
        results[name]["spark_s_reps"] = times
        results[name]["spark_s_rep1"] = times[0]
        results[name]["spark_s_band_converged"] = converged()
        results[name]["spark_s"] = min(times)

    def post_entry(name: str, first_job: int) -> None:
        maybe_phase_split(name, first_job)
        maybe_band(name)

    todo = [n for n in FINAL_REGISTRY if only is None or n in only]
    run_canary("start")
    for idx, name in enumerate(todo):
        spec = FINAL_REGISTRY[name]
        if idx == (len(todo) + 1) // 2 and len(todo) > 2:
            run_canary("mid")
        print(f"-> {name}", flush=True)
        first_job = job_watermark(spark)
        t0 = time.time()
        spark_fn, oracle_sql = spec.spark, spec.oracle
        note = None
        if name in bounded:
            spark_fn, oracle_sql, note = bounded[name]
        s_tbl = o_tbl = s = o = ns = no = None
        try:
            s_tbl = spark_fn(spark, sf_dir).toArrow()
            t_spark = time.time()
            o_tbl, cache_hit = oracle_cached(con, name, oracle_sql, fix_sig)
            t_oracle = time.time()
            phases = {
                "spark_s": round(t_spark - t0, 1),
                "oracle_s": round(t_oracle - t_spark, 1),
            }
            if cache_hit:
                phases["oracle_cached"] = True
            # assertions run on the Arrow tables: the pandas conversion
            # (seconds for multi-million-row string tables) is deferred
            # to the fallback path — the strict fast path never pays it
            assert sorted(s_tbl.column_names) == sorted(o_tbl.column_names), (
                f"columns differ: {sorted(s_tbl.column_names)} "
                f"vs {sorted(o_tbl.column_names)}"
            )
            assert_types_match(s_tbl, o_tbl, name)
            n_rows = s_tbl.num_rows
            assert n_rows == o_tbl.num_rows, (
                f"row count {n_rows} vs {o_tbl.num_rows}"
            )
            assert n_rows > 0, "empty result"
            if vector_equal(s_tbl, o_tbl) is True:
                phases["compare_s"] = round(time.time() - t_oracle, 1)
                results[name] = {
                    "verdict": "strict",
                    "rows": n_rows,
                    "s": round(time.time() - t0, 1),
                    **phases,
                }
                if note is not None:
                    results[name]["bounded"] = note
                post_entry(name, first_job)
                print(name, "strict", results[name]["s"], flush=True)
                flush()
                continue  # cleanup still runs via the finally below
            s = s_tbl.to_pandas()
            o = o_tbl.to_pandas()
            ns, no = fast_rows(s), fast_rows(o)
            phases["compare_s"] = round(time.time() - t_oracle, 1)
            if ns == no:
                results[name] = {
                    "verdict": "strict",
                    "rows": len(s),
                    "s": round(time.time() - t0, 1),
                    **phases,
                }
            elif tolerant_equal(ns, no):
                phases["compare_s"] = round(time.time() - t_oracle, 1)
                results[name] = {
                    "verdict": "float_tolerant",
                    "rows": len(s),
                    "s": round(time.time() - t0, 1),
                    **phases,
                }
            else:
                diffs = [(a, b) for a, b in zip(ns, no) if a != b][:3]
                results[name] = {
                    "verdict": "fail",
                    "rows": len(s),
                    "s": round(time.time() - t0, 1),
                    **phases,
                    "err": f"values differ; first diffs: {diffs!r}"[:400],
                }
        except Exception as e:
            results[name] = {
                "verdict": "fail",
                "s": round(time.time() - t0, 1),
                "err": str(e)[:400],
            }
        finally:
            s_tbl = o_tbl = s = o = ns = no = None  # noqa: F841
            release_entry_memory()
        if note is not None:
            results[name]["bounded"] = note
        post_entry(name, first_job)
        print(name, results[name]["verdict"], results[name]["s"], flush=True)
        flush()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    run_canary("end")
    flush()
    print(
        json.dumps(
            {
                k: v
                for k, v in json.load(open(out_path)).items()
                if k != "results"
            }
        )
    )


if __name__ == "__main__":
    main()
