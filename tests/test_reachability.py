"""Standing guard: every top-level package definition has a caller outside
``tests/``, or an allowlist entry saying why it stays.

Pure AST, no Spark. A reference is a ``Name``, an ``Attribute``'s attr, an
imported name, or a string constant that is a (dotted) identifier (registries and
the perfbench tracer bind layers by string), found in any ``.py`` file of
the repository outside ``tests/``. A definition's own ``def``/``class``/
assignment is not a reference to itself, but a use inside its own body is.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "datalake_public_spark")
SKIP_DIRS = {"tests", ".git", "__pycache__", ".perfbench_work", "spark-warehouse"}
_DOTTED = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")

# name -> why it stays although nothing outside tests/ references it
ALLOWLIST = {
    # OPERATOR_SLICES building blocks: the library forms the graded
    # entries were sliced from
    "grouping_sets_agg": "OPERATOR_SLICES building block (grouping sets)",
    "approx_distinct": "OPERATOR_SLICES building block (HLL distinct count)",
    "approx_quantiles": "OPERATOR_SLICES building block (percentile sketch)",
    # reference parity (SURVEY.md)
    "ingest_feed": "reference parity: SURVEY S1-S3 feed ingest",
    "latest_partition": "reference parity: SURVEY S6 latest snapshot partition",
    "run_due_ticks": "reference parity: SURVEY O4/O5 cron scheduling",
    "load_engine_config": "reference parity: SURVEY O4/O5 engine configuration",
    "not_null_violations": "reference parity: SURVEY quality not-null report",
    "run_streaming_format_stage": "reference parity: SURVEY section 7 streaming format stage",
    "streaming_transform_state": "transformWithState entry; needs google.protobuf",
    "STREAM_TWS_SQL": "oracle SQL of streaming_transform_state",
    # spec twins: the readable form a test compares a production kernel to
    "rolling_hash": "spec twin of the vectorised rolling hash",
    "simhash32": "spec twin of the Arrow SimHash kernel",
    "normalize_text_sql": "spec twin: DuckDB SQL of normalize_text_kernel",
    # per-doc text-signal operators, pinned against tests/text_spec.py
    "token_stats": "text-signal operator (token counts)",
    "language_id": "text-signal operator (language heuristic)",
    "repetition_stats": "text-signal operator (repetition signals)",
    "redact_pii": "text-signal operator (PII scrub)",
    # kept library capabilities with no production caller yet
    "extend_ivf_index": "index extension: append vectors to a built IVF index",
    "bm25_extend_index": "index extension: append docs to a built BM25 index",
    "recall_at_k": "ANN quality metric for lsh_topk/ivf_topk results",
    "as_of": "SCD2 point-in-time read over scd2_apply history",
    "release_failures": "module counter the cache-release path bumps via global",
}


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d not in SKIP_DIRS]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _top_level_names(tree: ast.Module) -> set[str]:
    out: set[str] = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out.update(t.id for t in targets if isinstance(t, ast.Name))
    return out


def _references(tree: ast.Module) -> set[str]:
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _DOTTED.fullmatch(node.value):
                refs.update(node.value.split("."))
    return refs


def unreached_definitions() -> dict[str, str]:
    """Top-level package definitions no file outside ``tests/``
    references, as ``name -> relative path``. Dunder names are ignored."""
    defs: dict[str, str] = {}
    for path in _py_files(PKG):
        for name in _top_level_names(_parse(path)):
            if not (name.startswith("__") and name.endswith("__")):
                defs[name] = os.path.relpath(path, ROOT)
    refs: set[str] = set()
    for path in _py_files(ROOT):
        refs |= _references(_parse(path))
    return {n: p for n, p in sorted(defs.items()) if n not in refs}


def test_every_unreached_definition_is_allowlisted():
    unreached = unreached_definitions()
    assert set(unreached) == set(ALLOWLIST), (
        "unreached, not allowlisted: "
        f"{ {n: unreached[n] for n in set(unreached) - set(ALLOWLIST)} }; "
        f"allowlisted but now reached or gone: {sorted(set(ALLOWLIST) - set(unreached))}"
    )


def test_allowlist_entries_give_a_one_line_reason():
    for name, reason in ALLOWLIST.items():
        assert reason.strip() and "\n" not in reason, name
